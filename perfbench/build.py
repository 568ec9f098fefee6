"""Build file of the benchmark package: compiles the repository's
`src/main/scala` together with `perfbench/harness/*.scala` with the Scala
compiler that ships in the Spark distribution ($SPARK_HOME/jars), into
`.bench_build/classes-<hash of the sources>` at the repository root. A tree
already built for the same sources is reused.

    python3 perfbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars(root=ROOT):
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    raise FileNotFoundError("Spark jars not found: set SPARK_HOME")


def sources(root=ROOT):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return main + harness


def classpath(classes, root=ROOT):
    return os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                            os.path.join(spark_jars(root), "*")])


def build(root=ROOT, log=sys.stderr):
    srcs = sources(root)
    if not any(s.endswith("/graft/SparkEntry.scala") for s in srcs):
        raise FileNotFoundError("src/main/scala/graft/SparkEntry.scala not found: "
                                "run from a checkout of the repository")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scala compilation failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
