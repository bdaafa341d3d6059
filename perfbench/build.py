"""Build file of the benchmark package: compiles the engine's main sources
(`src/main/scala`) together with the benchmark's JVM side
(`perfbench/src`) with the Scala compiler that ships in Spark's jars, the
same Scala and Spark the repository's own build uses.

Output goes to `<build dir>/classes`, rebuilt only when a source changes.
Run on its own: python3 perfbench/build.py [build dir]
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise RuntimeError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler under {jars}; set SPARK_HOME")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise RuntimeError(f"engine sources not found at {engine}")
    found = sorted(glob.glob(f"{engine}/**/*.scala", recursive=True))
    found += sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    return found


def classpath(build_dir):
    return os.pathsep.join([os.path.join(build_dir, "classes"),
                            os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def build(build_dir):
    """Compile if any source changed; returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    os.makedirs(build_dir, exist_ok=True)
    stamp = os.path.join(build_dir, "classes.stamp")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return classpath(build_dir)
        tmp = os.path.join(build_dir, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(build_dir, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs))
        jars = os.path.join(spark_jars(), "*")
        subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
                        "scala.tools.nsc.Main", "-d", tmp, "-classpath", jars, "-nowarn",
                        "@" + args], check=True, timeout=800)
        shutil.rmtree(os.path.join(build_dir, "classes"), ignore_errors=True)
        os.replace(tmp, os.path.join(build_dir, "classes"))
        with open(stamp, "w") as f:
            f.write(digest)
    return classpath(build_dir)


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
