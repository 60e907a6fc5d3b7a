"""Build step of the benchmark: compile the engine with the harness, and
generate the benchmark's table data.

Both land under `.bench_build/` in the checkout and are reused while their
inputs are unchanged (a stamp holds the hash of the inputs). The compile
calls the Scala compiler that ships with the Spark jars directly, so it
needs no build server and writes nothing outside the checkout.

    python3 perfbench/build.py        # build if stale, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main")
GENDATA = os.path.join(MAIN_SRC, "scala", "graft", "tools", "GenData.scala")
SCALE = "0.01"
HEAP = "2g"


def _spark_jars():
    """The Spark jars the repo's own build compiles against: the
    `unmanagedBase` directory named in build.sbt."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = _spark_jars()

# what spark-submit would add on JDK 17 (the repo's build.sbt lists the same)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def _files(*dirs):
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in sorted(names):
                yield os.path.join(base, n)


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _stamped(path, digest):
    try:
        with open(path + ".stamp") as f:
            return f.read().strip() == digest
    except OSError:
        return False


def _check_inputs():
    if not os.path.isfile(GENDATA) or not os.path.isdir(MAIN_SRC):
        raise BuildError(f"engine sources not found under {MAIN_SRC}")
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars (build.sbt unmanagedBase) not found: "
                         f"{SPARK_JARS!r}")


def cores():
    return len(os.sched_getaffinity(0))


def java(main, args, props=()):
    """The command line that runs `main` on the built classpath. The heap
    is fixed (-Xms = -Xmx), as Spark sizes executor heaps; no perf-data
    file is written outside the checkout."""
    cp = os.pathsep.join([os.path.join(OUT, "classes"),
                          os.path.join(SPARK_JARS, "*")])
    opens = [a for p in ADD_OPENS
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             *props, "-cp", cp, main] + list(args))


def compile_classes(log):
    sources = [p for p in _files(os.path.join(MAIN_SRC, "scala"),
                                 os.path.join(HERE, "harness"))
               if p.endswith(".scala")]
    resources = list(_files(os.path.join(MAIN_SRC, "resources")))
    dest = os.path.join(OUT, "classes")
    digest = _digest(sources + resources + [os.path.abspath(__file__)])
    if _stamped(dest, digest):
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", cp, "-nowarn", *sources]
    print(f"[build] compiling {len(sources)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError("Scala compile failed")
    res_root = os.path.join(MAIN_SRC, "resources")
    for p in resources:
        target = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copyfile(p, target)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(dest + ".stamp", "w") as f:
        f.write(digest)


def data_dir():
    return os.path.join(OUT, "data", f"sf{SCALE}")


def generate_data(log):
    """The engine's own deterministic generator (`tools/GenData`) at the
    benchmark scale; the data depends on nothing but its source."""
    dest = data_dir()
    digest = _digest([GENDATA]) + SCALE
    if _stamped(dest, digest):
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    work = os.path.join(OUT, "gendata-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    props = [f"-Dspark.local.dir={work}", f"-Djava.io.tmpdir={work}",
             f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    print(f"[build] generating sf{SCALE} tables", file=log, flush=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    r = subprocess.run(java("graft.tools.GenData", [SCALE, tmp], props=props),
                       stdout=log, stderr=log, cwd=work, env=env, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        raise BuildError("table generation failed")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(dest + ".stamp", "w") as f:
        f.write(digest)


def ensure(log=sys.stderr):
    """Build whatever is stale. Raises BuildError when the checkout cannot
    be built (no engine sources, no Spark, a compile error)."""
    _check_inputs()
    os.makedirs(OUT, exist_ok=True)
    compile_classes(log)
    generate_data(log)


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(os.path.join(OUT, "classes"))
