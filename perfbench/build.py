"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's JVM program (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory, into `.bench_build/perfbench`.

    python3 perfbench/build.py        # from the repository root

The jar directory is `$SPARK_HOME/jars`, or else the `unmanagedBase` that
the root `build.sbt` names. A stamp (hash of every source file) skips the
compile when nothing changed. Prints the runtime classpath on success.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("build: no Spark jar directory (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not prog:
        sys.exit("build: no program sources under src/main/scala; run from the repository root")
    return prog + sorted(glob.glob("perfbench/src/*.scala"))


def build():
    jars = jar_dir()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes, stamp = os.path.join(OUT, "classes"), os.path.join(OUT, "stamp")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jar_glob = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jar_glob, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", jar_glob, *srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
