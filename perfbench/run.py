#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_workbook --seed 1 --seconds 8 --trace 0

Run it from the root of the repository. The first run builds the engine
and the harness with sbt (perfbench/build.sbt) and reuses the build while
the sources are unchanged. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. The full result, with every operation and span, is written
to .bench_results/ (or --results DIR).

Maintenance: --pin FILE runs one query_suite pass and writes the row counts
of the subset to FILE instead of checking them.
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
ENGINE = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_workbook", "query_suite")
# A run must end within 180 s; the first one in a checkout may also build.
RUN_LIMIT_S, BUILD_LIMIT_S = 170, 850
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE, os.path.join(HERE, "scala"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
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


def ensure_built():
    """Build with sbt unless the stamped build matches the sources. Returns
    the runtime classpath and whether a build ran."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
                 for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH", 1)
        env["SPARK_HOME"] = homes[0]
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # temporary files (the sbt script's and every JVM's) and native-library
    # copies go inside the checkout; no lock file in sbt's boot directory
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx3g"
                       f" -Dsbt.boot.lock=false -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       BUILD_LIMIT_S, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed" if rc is not None else "build timed out", 1)
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read(), True


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--results", default=os.path.join(ROOT, ".bench_results"))
    ap.add_argument("--pin", help="write query_suite row counts to this file")
    a = ap.parse_args()
    start = time.monotonic()
    # a terminated run still stops its JVM (run_group kills on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ENGINE, "scala")) or not os.path.isfile(spec_file):
        fail("run from a checkout of the repository: engine sources or BENCHMARK.json missing")
    with open(spec_file) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]

    classpath, built = ensure_built()
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark", "work", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    # a fixed heap size keeps heap resizing out of the timings
    java = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", "-Dspark.ui.enabled=false"]
    java += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
    java += ["-cp", classpath, "perfbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace, "--work", os.path.join(run_dir, "work"),
             "--fixture", os.path.join(HERE, "fixture"),
             "--pins", os.path.join(HERE, "expected", "query_rows.json")]
    if a.pin:
        java += ["--pin-out", os.path.abspath(a.pin)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    limit = (BUILD_LIMIT_S + RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - start)
    out_path, log_path = os.path.join(run_dir, "stdout"), os.path.join(BUILD, "jvm.log")
    with open(out_path, "w") as out, open(log_path, "w") as log:
        rc = run_group(java, max(limit, 30), cwd=ROOT, env=env, stdout=out, stderr=log,
                       stdin=subprocess.DEVNULL)
    with open(out_path) as fh:
        lines = fh.read().splitlines()
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}", 1)
    if a.pin:
        print(f"pinned row counts written to {a.pin}")
        return

    tagged = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if not tagged:
        fail("benchmark JVM printed no result", 1)
    res = json.loads(tagged[-1][len("PERFBENCH_RESULT "):])
    got = res["metrics"]
    names = {m["name"] for m in wanted}
    unknown = sorted(set(got) - names)
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {unknown}", 1)
    missing = [n for n in names if n not in got and a.trace == "0"]
    if missing:
        fail(f"end-to-end metrics not produced: {missing}", 1)
    # a per-layer metric the workload does not exercise reads 0
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    attempted, failed = res["attempted"], res["failed"]
    correct = failed == 0 and attempted > 0

    res["reported"] = metrics
    os.makedirs(a.results, exist_ok=True)
    with open(os.path.join(a.results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(res, fh)

    h = res["host"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    print(f"host: cpus={h['cpus']} jdk={h['jdk']} calibration_s={h['calibration_s']:.4f} "
          f"calibration_par_s={h['calibration_par_s']:.4f}")
    print(f"check: {'ok' if correct else 'FAILED'}  attempted={attempted} failed={failed} "
          f"fail_ratio={failed / max(attempted, 1):.4f}  "
          f"p95 from {res['warm_samples']} warm samples, {res['p95_samples_beyond']} beyond it")
    for f in res["failures"]:
        print(f"  failure: {f}")
    for m in wanted:
        print(f"  {m['name']:<32} {metrics[m['name']]['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
