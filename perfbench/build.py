"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala` of the checkout) together with
the harness sources (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution's `jars` directory: offline, no build tool, and the
repository's own `build.sbt` is neither read nor changed. The classes land in
`<build dir>/classes` and are reused while the sources, this file and the jar
set are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return exe


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return engine + harness


def build(root, build_dir):
    """Compile if stale; return the classes directory."""
    srcs = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise SystemExit("perfbench: compilation failed\n" + res.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes
