"""Build file of the lake benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM driver
(`lakebench/scala`) into one class directory, with the Scala compiler that
ships among the Spark jars. A stamp of every source's content makes a
second build of unchanged sources a no-op.

    python3 lakebench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "lakebench/scala"]


def spark_jars():
    """The Spark jar directory: `$SPARK_HOME/jars`, else the program's own
    `unmanagedBase` in build.sbt."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def build_dir():
    """`CARGO_TARGET_DIR` names the build directory when set, so one
    variable places every benchmark's build output."""
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the class directory. Raises
    when the program's sources are missing or do not compile."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src", "main")) for f in files):
        raise RuntimeError("no program sources under src/main/scala")
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp, "@" + args_file]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:] + proc.stderr[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
