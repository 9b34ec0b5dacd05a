"""Build file of the benchmark: compiles the program under src/main/scala and
the harness under perfbench/harness with scalac from the Spark distribution
named by build.sbt's `unmanagedBase`, into .bench_build/.

A build is reused while the sources, resources and compiler are unchanged.
Run from the root of a checkout: `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
HARNESS = os.path.join("perfbench", "harness")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory the sbt build compiles against."""
    try:
        with open("build.sbt", encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError as e:
        raise BuildError(f"no build.sbt in {os.getcwd()}: {e}")
    if not m:
        raise BuildError("build.sbt names no unmanagedBase")
    jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jar directory not found: {jars}")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def fingerprint(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def stale(out, want):
    """True, after clearing `out`, unless `out` was built from `want`."""
    if os.path.exists(out + ".stamp") and open(out + ".stamp").read() == want:
        return False
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(out + ".stamp"):
        os.remove(out + ".stamp")
    return True


def stamp(out, want):
    with open(out + ".stamp", "w") as f:
        f.write(want)


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.abspath(BUILD)}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath), *files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out}:\n{r.stdout[-4000:]}")


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    main = [p for p in sources(os.path.join("src", "main", "scala")) if p.endswith(".scala")]
    resources = sources(os.path.join("src", "main", "resources"))
    harness = [p for p in sources(HARNESS) if p.endswith(".scala")]
    if not main or not harness:
        raise BuildError(f"no program or harness sources under {os.getcwd()}")
    classes = os.path.join(BUILD, "classes")
    hclasses = os.path.join(BUILD, "harness")
    main_stamp = fingerprint(main + resources, jars)
    if stale(classes, main_stamp):
        scalac(jars, [os.path.join(jars, "*")], classes, main)
        for r in resources:
            dst = os.path.join(classes, os.path.relpath(r, os.path.join("src", "main", "resources")))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        stamp(classes, main_stamp)
    harness_stamp = fingerprint(harness, jars) + main_stamp
    if stale(hclasses, harness_stamp):
        scalac(jars, [classes, os.path.join(jars, "*")], hclasses, harness)
        stamp(hclasses, harness_stamp)
    return [os.path.abspath(classes), os.path.abspath(hclasses), os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
