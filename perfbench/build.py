"""Build file of the benchmark.

Compiles the program's sources (``src/main/scala``) together with the
benchmark's own (``perfbench/src``) using the Scala compiler that ships with
the Spark distribution (``$SPARK_HOME/jars``, else the jar directory the
program's ``build.sbt`` uses as ``unmanagedBase``), into
``.bench_build/classes-<hash>`` under the checkout. A build whose
sources are unchanged is reused.

    python3 perfbench/build.py          # prints the classes directory
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError(f"program sources not found at {program}")
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out_root = os.path.join(root, ".bench_build")
    out = os.path.join(out_root, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    if os.path.isdir(out_root):
        for old in os.listdir(out_root):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(out_root, old), ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(root), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout)
        raise BuildError("scalac failed")
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(1)
