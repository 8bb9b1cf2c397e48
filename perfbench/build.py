"""Build file of the benchmark: compiles graft's main sources together with
the benchmark harness (`perfbench/src`) straight through the Scala compiler
that ships with Spark, into `classes/` under `$CARGO_TARGET_DIR` (default
`.bench_build`) in the repository root. A build whose sources are unchanged
is reused.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_jars():
    """The Spark jars graft's sbt build compiles against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = _spark_jars()

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS]
# no hsperfdata files under the system temp dir
JVM_QUIET = ["-XX:-UsePerfData"]


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    if not main:
        raise BuildError(f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {SPARK_JARS}")
    return main + bench


def build(log=sys.stderr):
    """Compile if the sources changed; return the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    classpath = f"{classes}:{SPARK_JARS}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    print(f"[build] compiling {len(srcs)} Scala files -> {classes}", file=log, flush=True)
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_QUIET, f"-Djava.io.tmpdir={tmp}", "-Xmx2g", "-Xss8m",
           "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
