"""Builds the program and the benchmark harness with the Scala compiler that
ships in Spark's jar directory, so a build needs no network and no sbt.

The program is `src/main/scala` (+ `src/main/resources`) of the checkout;
the harness is `perfbench/scala`. Classes go under `.bench_build/perfbench`
and are rebuilt only when a source file changes.
"""

import glob
import hashlib
import os
import shutil
import subprocess


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the one next to the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Scala compiler under %r (set SPARK_HOME)" % jars)
    return jars


def _sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under %s/src/main/scala" % root)
    here = os.path.dirname(os.path.abspath(__file__))
    harness = sorted(glob.glob(os.path.join(here, "scala", "*.scala")))
    return program, harness


def _digest(root, paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(jars, out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def ensure(root, build_dir):
    """Compiles what changed; returns the runtime classpath."""
    jars = spark_jars()
    program, harness = _sources(root)
    prog_out = os.path.join(build_dir, "classes", "program")
    drv_out = os.path.join(build_dir, "classes", "harness")
    stamp = os.path.join(build_dir, "classes.stamp")
    digest = _digest(root, program + harness)
    old = open(stamp).read() if os.path.exists(stamp) else ""
    if old != digest:
        shutil.rmtree(os.path.join(build_dir, "classes"), ignore_errors=True)
        jar_cp = os.path.join(jars, "*")
        _scalac(jars, prog_out, jar_cp, program)
        _scalac(jars, drv_out, prog_out + os.pathsep + jar_cp, harness)
        with open(stamp, "w") as f:
            f.write(digest)
    return os.pathsep.join([drv_out, prog_out,
                            os.path.join(root, "src/main/resources"),
                            os.path.join(jars, "*")])
