"""Build the program and the benchmark's JVM side from source.

Compiles the repo's `src/main/scala` together with `perfbench/src` with
the Scala compiler that ships among the Spark jars, into
`<build dir>/classes`. A digest of every source file is stored next to
the classes, so an unchanged tree is not compiled twice.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jars dir: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the repo's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(root, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.exists(sbt) else None
        jars = m.group(1) if m else "jars"
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    own = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return program + own


def build(root, build_dir):
    """Return the classes dir, compiling first if any source changed."""
    srcs = sources(root)
    jars = spark_jars(root)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = os.path.join(build_dir, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest.hexdigest():
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes
