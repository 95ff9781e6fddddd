#!/usr/bin/env python3
"""The engine's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
driver from source with sbt into `.bench_build/` (later runs reuse the
build while the sources are unchanged). Each run then

  1. generates the workload's inputs from the seed (never cached: the
     generation time is part of `setup_s`),
  2. starts one JVM with a `local[<cores>]` session, shuffle partitions =
     cores, and runs untimed warm passes (two on catalog_mix, one on
     lake_refresh; part of `setup_s`),
  3. measures whole passes of the workload as a closed loop with one
     client until `--seconds` have elapsed (at least three catalog passes
     or one lake pass; at least three passes on a traced run),
  4. checks the outputs with DuckDB, outside the timed region,

and prints every metric by name and unit, then, as its last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`). The full
summary and, for traced runs, the per-operation trace are written to
`.bench_build/results/`. See perfbench/README.md for the metric table.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

# Scale factor of the generated tables per workload (see README.md). On
# catalog_mix, events and documents are sized so that their files (~650 and
# ~590 KB) exceed the engine's 512 KiB scan fan-out floor
# (spark.graft.scan.fanout.minBytes): the fanned call sites in the workload
# then take the fan-out path, as they do on the engine's sf 0.1 fixture.
WORKLOADS = {
    "catalog_mix": {"sf": 0.01, "lake": False,
                    "rows": {"events": 32_000, "documents": 5_000}},
    "lake_refresh": {"sf": 0.005, "lake": True},
}
GEN_REPEATS = 3
JVM_TIMEOUT_S = 150

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + driver with sbt once per source state; returns the
    runtime classpath."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server (its socket lives in the system temp dir), temp files
    # and JVM perf data kept out of the system temp dir
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also sbt's java probe
    env["TMPDIR"] = tmp
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=850)
    with open(log, "a") as fh:
        fh.write(r.stdout)
    cps = [ln.strip() for ln in r.stdout.splitlines()
           if ".jar" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {os.path.relpath(log, ROOT)}")
    cp = cps[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def generate(spec, data, seed):
    """Generates the inputs GEN_REPEATS times (same seed, same bytes) and
    returns (median seconds, input bytes, extra info)."""
    times = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        if spec["lake"]:
            size, dates = gen.lake_input(data, spec["sf"], seed)
            info = {"dates": len(dates)}
        else:
            size = gen.write_fixture(data, spec["sf"], seed, spec.get("rows"))
            info = {"table_bytes": {
                f[:-len(".parquet")]: os.path.getsize(os.path.join(data, f))
                for f in sorted(os.listdir(data))}}
        times.append(time.perf_counter() - t0)
    return metrics.median(times), size, info


def run_jvm(cp, workload, data, work, raw, seed, seconds, trace, n):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Driver", workload, data, work, raw,
            str(seed), str(seconds), str(trace), str(n)]
    log = os.path.join(work, "driver.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             env=dict(os.environ, TMPDIR=tmp))

        def stop(signum, _frame):
            p.kill()
            p.wait()
            fail(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"driver exceeded {JVM_TIMEOUT_S} s; see {os.path.relpath(log, ROOT)}")
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    if code != 0 or not os.path.exists(raw):
        fail(f"driver exited {code}; see {os.path.relpath(log, ROOT)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]
    cp = build()

    work = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "input")
    phases = {}
    t0 = time.perf_counter()
    gen_s, input_bytes, info = generate(spec, data, a.seed)
    phases["generate_all_s"] = time.perf_counter() - t0
    raw_file = os.path.join(work, "raw.json")
    n = cores()
    t0 = time.perf_counter()
    run_jvm(cp, a.workload, data, work, raw_file, a.seed, a.seconds, a.trace, n)
    phases["jvm_s"] = time.perf_counter() - t0
    with open(raw_file) as fh:
        raw = json.load(fh)
    t0 = time.perf_counter()

    # correctness, outside the timed region
    if spec["lake"]:
        mismatches = oracle.check_lake(data, raw["lake"]["full"],
                                       raw["lake"]["incremental"], raw["oracle"])
    else:
        mismatches = oracle.check_queries(data, os.path.join(work, "verify"),
                                          raw["oracle"], raw["ops"])

    phases["check_s"] = time.perf_counter() - t0
    summary = metrics.summarize(raw, gen_s=gen_s, input_bytes=input_bytes,
                                cores=n, mismatches=mismatches)
    summary.update(workload=a.workload, seed=a.seed, seconds=a.seconds, phases=phases,
                   trace=a.trace, input_cached=False, input_info=info,
                   sf=spec["sf"])
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".summary.json", "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    if a.trace:
        with open(stem + ".trace.json", "w") as fh:
            json.dump(metrics.trace_records(raw), fh, indent=1)

    for line in metrics.report_lines(summary):
        print(line)
    key = "per_layer" if a.trace else "end_to_end"
    print(json.dumps({
        "correct": summary["correct"], "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in summary[key].items()}}))


if __name__ == "__main__":
    main()
