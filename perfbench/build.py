"""Build step of the benchmark: compile graft's sources together with the
benchmark harness, and generate the benchmark fixture.

graft's own build uses the Spark jars of the local Spark installation
(`/opt/spark/jars`, or `$SPARK_HOME/jars`), and that directory also carries
the Scala compiler, so the harness compiles with it directly: no build tool,
no dependency resolution, nothing written outside the checkout. Outputs go
to `$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`) under
the checkout root, and are rebuilt only when a source file changes.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
FIXTURE_SF = 0.01

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    d = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(d):
        raise BuildError(f"Spark jars not found at {d} (set SPARK_HOME)")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources():
    """graft's main sources and the harness; both must exist."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"source directory missing: {os.path.relpath(r, ROOT)}")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(s.startswith(roots[0]) for s in out):
        raise BuildError("no graft sources under src/main/scala")
    return sorted(out)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def program_hash():
    """Content hash of graft's own sources: the run's commit id when the
    checkout is not a git repository."""
    return tree_hash([s for s in sources() if not s.startswith(HERE)])


def java_base():
    opens = []
    for p in JDK17_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", "-XX:-UsePerfData"] + opens


def compile_classes():
    """Compile into OUT/classes unless its stamp matches the sources."""
    srcs = sources()
    jars = spark_jars()
    stamp = tree_hash(srcs + [j for j in jars if "scala-compiler" in j])
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars)] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + p.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def fixture():
    """Generate the fixture once per generator version."""
    sys.path.insert(0, HERE)
    import fixture as fx
    d = os.path.join(OUT, f"{fx.VERSION}-sf{FIXTURE_SF}")
    if not os.path.exists(d + ".done"):
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        fx.generate(d + ".tmp", FIXTURE_SF)
        os.rename(d + ".tmp", d)
        open(d + ".done", "w").close()
    return d


def classpath(classes):
    return os.pathsep.join([classes] + spark_jars())


def build():
    os.makedirs(OUT, exist_ok=True)
    return compile_classes(), fixture()


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
