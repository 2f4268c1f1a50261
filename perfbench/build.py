"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own Scala sources (`perfbench/src`) in one scalac pass
into `.bench_build/classes`, against the Spark jars (which also provide the
Scala 2.13 compiler). A content stamp over every source skips the compile
when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return engine, bench


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build(root, log=sys.stderr):
    """Compile if the sources changed; returns the classes directory."""
    engine, bench = sources(root)
    if not engine:
        raise RuntimeError("no engine sources under src/main/scala")
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + bench) + "\n")
    print(f"[perfbench] compiling {len(engine)} engine + {len(bench)} benchmark sources",
          file=log, flush=True)
    subprocess.run(
        ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
         "-cp", classpath(), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", classpath(), "@" + argfile],
        check=True, stdout=log, stderr=log)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
