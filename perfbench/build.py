"""Build file of the benchmark: compiles the engine and the harness.

The engine (`src/main/scala`) and the harness (`perfbench/scala`) are
compiled together with the Scala compiler that ships among the Spark jars
the repository builds against (`unmanagedBase` in `build.sbt`, or
`$SPARK_HOME/jars`). Classes go to `.bench_build/classes-<hash>` (or
`$CARGO_TARGET_DIR`), keyed on the sources, so an unchanged tree is
compiled once.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    """The Spark jar directory the repository's build names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("no Spark jars: set SPARK_HOME")
    return m.group(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    files = []
    for d in SOURCES:
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    if not any(f.startswith(os.path.join(ROOT, SOURCES[0])) for f in files):
        raise SystemExit("no engine sources under %s" % SOURCES[0])
    return sorted(files)


def build():
    """Compile if needed; return the class directory."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(build_dir(), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", suffix=".tmp", dir=build_dir())
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-2\.13", n)]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("compile failed")
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
