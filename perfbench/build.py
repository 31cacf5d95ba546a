"""Build file of the benchmark: compiles graft's sources and the
benchmark's own Scala driver into one jar.

    python3 perfbench/build.py        # from the repository root

It compiles with the Scala compiler among the Spark jars, the same jar
directory graft's own build compiles against (SPARK_HOME/jars, or the
`unmanagedBase` named in build.sbt), and packs the classes into
`.bench_build/perfbench/perfbench.jar`. A stamp of every source's content
makes a second build with unchanged sources a no-op. A new jar drops the
JVM class-data archive `run.py` keeps beside it (see `ARCHIVE`).
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
OUT_NAME = os.path.join(".bench_build", "perfbench")
SCALAC_OPTS = ["-nowarn", "-deprecation:false", "-Ybackend-parallelism", "4"]
JAR = "perfbench.jar"
ARCHIVE = "classes.jsa"


class BuildError(Exception):
    pass


def repo_root():
    """The checkout this benchmark measures: the parent of its directory."""
    return os.path.dirname(BENCH_DIR)


def jar_dir(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME or keep unmanagedBase in build.sbt")


def sources(root):
    graft = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft, "graft")):
        raise BuildError(f"graft sources not found under {graft}")
    files = glob.glob(os.path.join(graft, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def resources(root):
    res = os.path.join(root, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                  if os.path.isfile(p)), res


def stamp(files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(quiet=False):
    """Compile if anything changed; return the driver's classpath."""
    root = repo_root()
    jars = jar_dir(root)
    out = os.path.join(root, OUT_NAME)
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, JAR)
    srcs = sources(root)
    res_files, res_root = resources(root)
    digest = stamp(srcs + res_files + [os.path.abspath(__file__)])
    stamp_file = os.path.join(out, "stamp")
    classpath = jar + os.pathsep + os.path.join(jars, "*")
    if (os.path.exists(jar) and os.path.exists(stamp_file)
            and open(stamp_file).read() == digest):
        return classpath
    t0 = time.perf_counter()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", *SCALAC_OPTS, "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for f in res_files:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    # a jar, not a directory: the JVM archives classes from jars only
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as zf:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                zf.write(path, os.path.relpath(path, classes))
    if os.path.exists(os.path.join(out, ARCHIVE)):
        os.remove(os.path.join(out, ARCHIVE))
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    secs = time.perf_counter() - t0
    if not quiet:
        print(f"built {len(srcs)} sources in {secs:.1f} s", file=sys.stderr)
    return classpath


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
