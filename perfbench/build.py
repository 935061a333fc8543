"""Build step of the benchmark: compiles the program (src/main/scala) and the
benchmark sources (perfbench/src) with the Scala compiler that ships among
Spark's jars, into .bench_build/program.jar and .bench_build/bench.jar. Each
part is recompiled only when its sources change (a content hash is kept
beside the jar). Jars, not class directories, so the JVM can map the
classes from a class-data-sharing archive (see run.py).

    python3 perfbench/build.py        # build, print the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_part(name, src_dir, classpath, jars, depends=""):
    """Compile one part into <name>.jar; returns (jar, content stamp)."""
    files = sources(src_dir)
    if not files:
        raise BuildError(f"no Scala sources under {src_dir}")
    jar = os.path.join(BUILD, name + ".jar")
    mark = jar + ".stamp"
    want = stamp(files, depends)
    if os.path.isfile(mark) and os.path.isfile(jar) and open(mark).read() == want:
        return jar, want
    out = os.path.join(BUILD, "classes", name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [glob.glob(os.path.join(jars, p))
                for p in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler among {jars}")
    cp = classpath + sorted(glob.glob(os.path.join(jars, "*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(cp),
           "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for base, _, fs in os.walk(out):
            for f in sorted(fs):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, out))
    os.replace(jar + ".tmp", jar)
    with open(mark, "w") as fh:
        fh.write(want)
    return jar, want


def build():
    """Compile what changed; returns the runtime classpath entries and a
    stamp that changes whenever any of them does."""
    jars = spark_jars()
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    program, program_stamp = compile_part("program", PROGRAM_SRC, [], jars)
    bench, bench_stamp = compile_part("bench", BENCH_SRC, [program], jars, program_stamp)
    jar_list = ":".join(sorted(os.listdir(jars)))
    classpath_stamp = hashlib.sha256((bench_stamp + jar_list).encode()).hexdigest()
    return [bench, program, os.path.join(jars, "*")], classpath_stamp


if __name__ == "__main__":
    try:
        print(":".join(build()[0]))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
