"""Build step of the benchmark: compiles the engine and the benchmark's JVM
driver with the Scala compiler that ships in Spark's jars, and generates
the input tables with the engine's own deterministic generator.

Both outputs are cached under `.bench_build/perfbench`, keyed on the
sources they come from, so only the first run in a checkout pays for them.
Run it alone with `python3 perfbench/build.py` to build ahead of time.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main"


def _spark_home():
    """SPARK_HOME, else the first spark-submit on PATH whose installation
    ships the Scala compiler (pip's pyspark ships a spark-submit too)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = (Path(d) / "spark-submit").resolve().parent.parent
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home
    return Path("spark-home-not-found")


JARS = _spark_home() / "jars"

# What spark-submit normally passes to a JDK 17 driver (build.sbt uses the
# same list for forked runs).
ADD_OPENS = [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def require_checkout():
    """Fails unless the engine's sources are present next to perfbench/."""
    entry = ENGINE_SRC / "scala" / "graft" / "SparkEntry.scala"
    if not entry.is_file():
        raise BuildError(f"engine sources not found ({entry.relative_to(ROOT)})")
    if not JARS.is_dir():
        raise BuildError(f"Spark jars not found at {JARS}")


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _files(root, suffix=""):
    return [p for p in root.rglob("*") if p.is_file() and p.name.endswith(suffix)]


def _run(cmd, log, **kw):
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT, **kw)
    if r.returncode != 0:
        tail = Path(log).read_text(errors="replace")[-3000:]
        raise BuildError(f"{cmd[0]} exited {r.returncode}:\n{tail}")


def _cached(name, key, make):
    """Returns OUT/<name>-<key>, building it with `make(dir)` when absent.
    Older builds of the same name are removed."""
    final = OUT / f"{name}-{key}"
    if (final / "_OK").exists():
        return final
    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob(f"{name}-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = OUT / f"_tmp-{name}-{key}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    make(tmp)
    (tmp / "_OK").touch()
    tmp.rename(final)
    return final


def scalac(out, sources, classpath):
    _run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{JARS}/*",
          "scala.tools.nsc.Main",
          "-nowarn", "-d", str(out), "-classpath", classpath]
         + [str(s) for s in sources], out / "scalac.log", timeout=600)


def build_classes():
    """Compiles src/main (engine) and perfbench/jvm (driver); returns the
    runtime classpath."""
    require_checkout()
    engine = _files(ENGINE_SRC)
    driver = _files(BENCH / "jvm", ".scala")
    key = tree_hash(engine + driver)

    def make(d):
        (d / "engine").mkdir()
        (d / "driver").mkdir()
        scalac(d / "engine", [p for p in engine if p.suffix == ".scala"],
               f"{JARS}/*")
        res = ENGINE_SRC / "resources"
        if res.is_dir():
            shutil.copytree(res, d / "engine", dirs_exist_ok=True)
        scalac(d / "driver", driver, f"{d / 'engine'}:{JARS}/*")

    d = _cached("classes", key, make)
    return f"{d / 'driver'}:{d / 'engine'}:{JARS}/*"


def java_cmd(classpath, heap_flags, tmpdir, main, args):
    """A JVM that writes scratch files only under `tmpdir` (no hsperfdata
    under /tmp, Hadoop's tmp dir moved too)."""
    return (["java", "-XX:-UsePerfData", *ADD_OPENS, *heap_flags,
             f"-Djava.io.tmpdir={tmpdir}",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmpdir}/hadoop",
             "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             "-cp", classpath, main] + [str(a) for a in args])


def read_jars():
    """Reads Spark's jars once, so JVM start-up does not depend on whether
    an idle spell let them fall out of the page cache."""
    for jar in JARS.glob("*.jar"):
        with open(jar, "rb") as fh:
            while fh.read(1 << 20):
                pass


def child_env(cores):
    """Environment for JVMs: Spark's scratch space must stay in the run's
    own tmpdir, so inherited local-dir overrides are dropped."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env["SPARK_GRAFT_MASTER"] = f"local[{cores}]"
    return env


def build_data(classpath, scale, cores):
    """Generates the input tables once per generator source and scale."""
    gen = ENGINE_SRC / "scala" / "graft" / "tables" / "GenData.scala"
    key = tree_hash([gen]) + f"-sf{scale}"

    def make(d):
        tmp = d / "tmp"
        tmp.mkdir()
        _run(java_cmd(classpath, ["-Xmx2g"], tmp, "graft.tables.GenData",
                      [scale, d / "tables"]),
             d / "gendata.log", env=child_env(cores), timeout=600)
        shutil.rmtree(tmp, ignore_errors=True)

    return _cached("data", key, make) / "tables"


if __name__ == "__main__":
    try:
        cp = build_classes()
        print(build_data(cp, 0.01, os.cpu_count() or 1))
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
