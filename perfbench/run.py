#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (perfbench/build.py), starts one JVM
running Spark in local[4] mode, and prints as the last line of standard
output one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics; the JVM reports values by name and
the units come from BENCHMARK.json. Everything the run writes stays
under .bench_build/ in the checkout; spans of a traced run are kept in
.bench_build/traces/ as JSON lines.

After a build, a training JVM runs every workload's set-up once and dumps
the classes it loaded into a class-data sharing archive
(.bench_build/cds-*.jsa); every measured run maps it, which shortens JVM
start and the warm pass but not the measured window. (A JVM that dumps
runs slower, so no measured run dumps.)
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest_batch", "ingest_stream", "crawl_loop")
CPUS = 4
JVM_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 500
RESULT_PREFIX = "PERFBENCH_RESULT "

# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def driver_heap():
    """Half the machine's memory in GiB, clamped to 2..8 (the test heap rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def metric_units(trace):
    """{name: unit} of the metrics a run reports, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def java(jar, work, flags, args):
    """The benchmark JVM's command line."""
    jars = os.path.join(build.spark_jars(), "*")
    return (["java", f"-Xmx{driver_heap()}", "-Xss8m", "-XX:-UsePerfData",
             "-Xlog:disable", "-Xlog:all=warning:stderr"] + flags
            + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", jar + os.pathsep + jars, "graftbench.Main", "--cpus", str(CPUS),
               "--work", work] + args)


def run_jvm(cmd, log_path, timeout):
    """Runs the JVM in its own process group; its standard output, or
    None when it timed out (the whole group is then killed)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        out = None
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # also when this script is terminated
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
    return out, proc.returncode


def cds_flags(jar, stamp, logs):
    """Flags that map the build's class-data sharing archive, trained
    first if it is missing. No flags when training failed."""
    archive = os.path.join(build.OUT, f"cds-{stamp[:16]}.jsa")
    failed = archive + ".failed"
    if not os.path.isfile(archive) and not os.path.isfile(failed):
        work = os.path.join(build.OUT, "run", "cds-train")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        dump = archive + ".tmp"
        log_path = os.path.join(logs, "cds-train.log")
        out, rc = run_jvm(java(jar, work, [f"-XX:ArchiveClassesAtExit={dump}"], [
            "--workload", "train", "--seed", "0", "--seconds", "1", "--trace", "0",
            "--trace-out", os.path.join(work, "trace.jsonl")]), log_path, TRAIN_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
        if out is not None and rc == 0 and os.path.isfile(dump):
            os.replace(dump, archive)
        else:
            if os.path.isfile(dump):
                os.remove(dump)
            open(failed, "w").close()
            sys.stderr.write(f"run: class-data sharing archive not trained; see "
                             f"{os.path.relpath(log_path, ROOT)}\n")
    return [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    units = metric_units(a.trace)
    jar, stamp = build.build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(build.OUT, "run", tag)
    logs = os.path.join(build.OUT, "logs")
    traces = os.path.join(build.OUT, "traces")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(work, "tmp"), logs, traces):
        os.makedirs(d, exist_ok=True)
    flags = cds_flags(jar, stamp, logs)
    cmd = java(jar, work, flags, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--trace-out", os.path.join(traces, tag + ".jsonl")])
    log_path = os.path.join(logs, tag + ".log")
    out, rc = run_jvm(cmd, log_path, JVM_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in (out or "").splitlines():
        if line.startswith(RESULT_PREFIX):
            result = json.loads(line[len(RESULT_PREFIX):])
        elif line.strip():
            print(line)
    if out is None or rc != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        why = "timed out" if out is None else f"exit code {rc}"
        sys.exit(f"run: benchmark JVM failed ({why}); log in {os.path.relpath(log_path, ROOT)}")
    values = result["metrics"]
    unknown = sorted(set(values) - set(units))
    if unknown:
        sys.exit(f"run: JVM reported metrics BENCHMARK.json does not list: {unknown}")
    missing = [n for n in units if n not in values]
    if missing and not a.trace:
        sys.exit(f"run: JVM did not report {missing}")
    # a layer the workload does not run reads 0
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()
