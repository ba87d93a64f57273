"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark driver (perfbench/scala) from source in one Scala compiler
run, against the Spark jars the project's build.sbt names.

    python3 perfbench/build.py          # build if the sources changed

The classes land in perfbench/.build/<hash of the sources>/, so a
checkout builds once and every later run reuses the build.
"""
import glob
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


def spark_jars(root=ROOT):
    """The jar directory of the project's build (`unmanagedBase`)."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt in {root}: not a checkout of the engine")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise BuildError("build.sbt names no jar directory holding the Scala compiler")
    return m.group(1)


def sources(root=ROOT):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no engine sources under {main}")
    files = []
    for base in (main, os.path.join(HERE, "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def ensure_built(root=ROOT):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(os.path.join(out, "DONE")):
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss64m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", os.path.join(jars, "*"), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    open(os.path.join(out, "DONE"), "w").close()
    for old in glob.glob(os.path.join(HERE, ".build", "*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return cp


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
