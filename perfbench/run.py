#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop workload per run.

    python3 perfbench/run.py --workload <crawl_collect|table_cdc|corpus_dedup>
        [--seed 1] [--seconds 10] [--trace 0|1]

Run from the repository root. Builds the engine and the driver from source
(perfbench/build.py), then runs perfbench.Main in one JVM whose heap is sized
to the machine, on a local Spark session with one thread per core. Prints
every metric by name with its unit; the last line of stdout is the JSON
result {"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The full run record (context,
samples, spans, jobs) is written under .bench_build/perfbench/artifacts/.
Exits non-zero, without a result line, if the build or the run fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl_collect", "table_cdc", "corpus_dedup")
# crawl_collect runs on the client compiler only. Its calls are Spark job
# scheduling, Hadoop file-system metadata calls and tiny decodes, which the
# optimising compiler does not make faster (in 7 alternated pairs of runs on
# a 4-core VM the median call took 1.73 s on the client compiler alone and
# 1.79 s with both), while under it a call keeps getting faster for longer,
# by an amount that follows how much CPU the host leaves the compiler.
# corpus_dedup, whose kernels it does speed up (1.3 s a call without it,
# 0.9 s with it), and table_cdc keep it.
JIT_FLAGS = {"crawl_collect": ["-XX:TieredStopAtLevel=1"]}
# one run must end within this many seconds once the build exists
RUN_LIMIT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_mb():
    """A quarter of the machine's memory, between 1 and 2 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(1024, min(2048, int(line.split()[1]) // 4096))
    except OSError:
        pass
    return 2048


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        jar = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    started = time.monotonic()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", tag)
    artifact = os.path.join(build.BUILD, "artifacts", tag + ".json")
    log = os.path.join(build.BUILD, "logs", tag + ".log")
    for d in (os.path.join(work, "tmp"), os.path.dirname(artifact), os.path.dirname(log)):
        os.makedirs(d, exist_ok=True)
    jars = build.spark_jars()
    # a fixed-size heap and the throughput collector keep run-to-run spread
    # low: no heap resizing and no concurrent collector work beside the tasks
    heap = heap_mb()
    # class data sharing: the first run of a workload on a build archives the
    # classes it loaded, and later runs map that archive instead of loading
    # and verifying thousands of Spark classes again, which takes seconds off
    # every JVM start (a stale or unusable archive is ignored by the JVM)
    jsa = f"{jar[:-len('.jar')]}-{a.workload}.jsa"
    jsa_tmp = f"{jsa}.tmp{os.getpid()}"
    cds = ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa)
           else [f"-XX:ArchiveClassesAtExit={jsa_tmp}"])
    # JVM log lines go to stderr: stdout must end with the result line
    cmd = (["java"] + cds + ["-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData"]
           + JIT_FLAGS.get(a.workload, [])
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.local.dir=" + os.path.join(work, "tmp"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Dderby.system.home=" + os.path.join(work, "tmp"),
              "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", jar + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", os.path.join(work, "data"), "--artifact", artifact])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        timed_out = False
        try:
            out, _ = proc.communicate(timeout=max(30, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            timed_out = True
        finally:
            subprocess.run(["rm", "-rf", work])
    if os.path.exists(jsa_tmp):
        if proc.returncode == 0:
            os.replace(jsa_tmp, jsa)
        else:
            os.remove(jsa_tmp)
    if timed_out:
        print(f"perfbench: run timed out; log in {log}", file=sys.stderr)
        return 1

    lines = out.rstrip("\n").split("\n") if out else []
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        result = None
    if proc.returncode != 0 or result is None:
        sys.stdout.write("\n".join(lines[:-1] if result else lines) + "\n")
        with open(log) as fh:
            tail = fh.read()[-4000:]
        print(f"perfbench: run failed (exit {proc.returncode}); log {log}:\n{tail}",
              file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(f"artifact {os.path.relpath(artifact, build.ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
