"""Benchmark entry point. Builds the program and the benchmark from source
when they changed, then runs one workload in a fresh JVM whose last stdout
line is the JSON result:

    python3 perfbench/run.py --workload fleet_graph --seed 1 --seconds 10 --trace 0

Workloads: fleet_graph, corpus_serve (see perfbench/README.md). Everything
the run writes stays under .bench_build/.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("fleet_graph", "corpus_serve")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath, stamp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Class-data sharing: the first run after a build dumps the ~24k classes
    # Spark loads into an archive that later runs map instead of loading
    # and verifying them again (about 10 s less cold start per run).
    archive = os.path.join(build.BUILD, f"classes-{stamp[:16]}.jsa")
    dumping = not os.path.isfile(archive)
    if dumping:
        for old in os.listdir(build.BUILD):
            if old.endswith(".jsa"):
                os.remove(os.path.join(build.BUILD, old))
        cds = f"-XX:ArchiveClassesAtExit={archive}.tmp"
    else:
        cds = f"-XX:SharedArchiveFile={archive}"
    # C1 only, compiling methods twenty times sooner than by default: C2
    # keeps compiling Spark's generated code for longer than a run lasts on
    # a few cores, so job times would drift down through the whole run;
    # this way the JIT settles within the first job. The larger code cache
    # keeps C1 from flushing and recompiling part-way through. ParallelGC
    # and a fixed heap: no concurrent collector threads and no heap
    # resizing competing with the jobs.
    # JVM warnings (the archive dump prints thousands at exit) go to stderr,
    # so the result stays the last line of stdout.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           "-XX:CompileThresholdScaling=0.05", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr", cds,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work-dir", work]
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S + (240 if dumping else 0))
        if dumping and os.path.isfile(archive + ".tmp"):
            os.replace(archive + ".tmp", archive)
        return rc
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
