"""Builds the engine and the benchmark harness from source.

Compiles `src/main/scala` together with `perfbench/scala` against the Spark
jars, with the Scala compiler that ships among them ($SPARK_HOME/jars, else
the jar directory build.sbt compiles against), into
`<build dir>/classes-<source hash>`. A build whose hash already exists is
reused. Run from the root of a checkout:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


def spark_jars(root="."):
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def compiler_cp(jars_dir):
    jars = []
    for name in ("scala-compiler", "scala-reflect", "scala-library"):
        found = sorted(glob.glob(os.path.join(jars_dir, f"{name}-2.13.*.jar")))
        if not found:
            raise SystemExit(f"build: no {name} jar under {jars_dir}")
        jars.append(found[-1])
    return os.pathsep.join(jars)


def build(root="."):
    """Returns the class directory for the current sources, compiling it
    if needed."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src")) for f in files):
        raise SystemExit("build: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, build_dir(), f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "_sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    jars = spark_jars(root)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    os.remove(argfile)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(root, build_dir(), "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
