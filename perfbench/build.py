"""Build file of the perfbench package: compiles the program
(src/main/scala) together with the harness (perfbench/src) into
<out>/classes with the Scala compiler that ships in Spark's jars (the
directory build.sbt compiles against, or $SPARK_HOME/jars), and the
host probe (tools/host_probe.java) into <out>/probe. A build is reused
while no source file changed.

Usage: python3 perfbench/build.py [out_dir]     (default: .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def _sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _run(cmd):
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError(f"{cmd[0]} failed:\n{p.stdout[-4000:]}")


def build(out):
    """Returns (classes_dir, probe_dir) under `out`, compiling if needed."""
    sources = _sources()
    probe_src = os.path.join(ROOT, "tools", "host_probe.java")
    if not any(s.startswith(os.path.join(ROOT, "src", "")) for s in sources):
        raise BuildError("no program sources under src/main/scala")
    if not os.path.isfile(probe_src):
        raise BuildError("tools/host_probe.java is missing")
    digest = hashlib.sha256()
    for path in sources + [probe_src]:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes, probe = os.path.join(out, "classes"), os.path.join(out, "probe")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes, probe
    for d in (classes, probe):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    _run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
          "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes]
         + sources)
    _run(["javac", "-d", probe, probe_src])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, probe


if __name__ == "__main__":
    try:
        print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                    else os.path.join(ROOT, ".bench_build"))))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
