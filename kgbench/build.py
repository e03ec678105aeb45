"""Build file of the kgbench package.

Compiles the program's sources (``src/main/scala`` of the checkout) together
with the benchmark's own sources (``kgbench/src``) using the Scala compiler
that ships in the Spark distribution's ``jars`` directory, the same jars the
root build compiles against. Classes land in
``.bench_build/kgbench/<source hash>/classes``; a build is reused while no
source file changes.

    python3 kgbench/build.py      # build from the checkout root, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME, else spark-submit's home."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        sys.exit("kgbench: no Spark distribution with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(root):
    """Compile if needed; return the runtime classpath."""
    program = os.path.join(root, "src", "main", "scala")
    sources = scala_sources(program)
    if not sources:
        sys.exit(f"kgbench: no program sources under {program}; run from the repository root")
    sources += scala_sources(os.path.join(BENCH_DIR, "src"))
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in sources + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(sorted(os.listdir(jars))).encode())
    base = os.path.join(root, ".bench_build", "kgbench")
    out = os.path.join(base, digest.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.isdir(classes):
        if os.path.isdir(base):
            shutil.rmtree(base)
        tmp = classes + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources) + "\n")
        print(f"kgbench: compiling {len(sources)} sources", file=sys.stderr, flush=True)
        done = subprocess.run(
            [java(), "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
            stdout=sys.stderr)
        if done.returncode != 0:
            sys.exit(f"kgbench: compile failed ({done.returncode})")
        os.rename(tmp, classes)
    resources = os.path.join(root, "src", "main", "resources")
    extra = [resources] if os.path.isdir(resources) else []
    return os.pathsep.join([classes] + extra + [os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build(os.getcwd()))
