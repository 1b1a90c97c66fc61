#!/usr/bin/env python3
"""Build file of the kgbench package.

Compiles the engine (`src/main/scala`, resources from `src/main/resources`)
together with the benchmark sources (`kgbench/src`) into one class
directory with the Scala compiler that ships in Spark's `jars/`
directory. No sbt, no dependency resolution: everything on the class
path is Spark's own jars, the same set `build.sbt` compiles against.

    python3 kgbench/build.py          # from the repository root

The output goes to `$CARGO_TARGET_DIR` when set, else `.bench_build/`,
and is rebuilt only when a source file's content changed (a stamp file
holds the digest of every input).
"""

import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("kgbench: Spark jars not found (set SPARK_HOME)")
    return jars


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "kgbench", "src")]
    for d in dirs:
        if not os.path.isdir(d):
            sys.exit(f"kgbench: source directory {os.path.relpath(d, root)} missing; "
                     "run from the root of a repository checkout")
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out.extend(os.path.join(base, n) for n in names if n.endswith(".scala"))
    return sorted(out)


def resource_files(root):
    res = os.path.join(root, "src", "main", "resources")
    out = []
    for base, _, names in os.walk(res):
        out.extend(os.path.join(base, n) for n in names)
    return res, sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def ensure_built(root):
    """Return the class directory, compiling first when sources changed."""
    jars = spark_jars()
    sources = source_files(root)
    res_dir, resources = resource_files(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    want = digest(sources + resources)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile]
    print("kgbench: compiling %d sources" % len(sources), file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("kgbench: compilation failed")
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
