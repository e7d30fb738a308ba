"""Builds what a benchmark run needs, outside any timed measurement:

* the graft classes plus the benchmark's own harness, compiled from source
  with the Scala compiler that ships in Spark's jar directory (no sbt, no
  dependency resolution);
* the fixture tables, written once by graft's own deterministic
  generator (`graft.DataGen`) through the harness's `prepare` mode.

Both are cached under the build directory and rebuilt when their inputs
change (a digest of every source file, and of the generator plus scale).

Usage: python3 perfbench/build.py   (builds and exits)
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(".bench_build", "perfbench")
SF = 0.01


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else "jars"
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def heap():
    """The Tier-1 heap formula: half the box's memory in GiB, clamped 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{min(8, max(2, g))}g"


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, tmpdir, heap):
    """The JVM command line for the harness: explicit heap, no hsperfdata
    file in the shared tmp, tmpdir inside the run directory. The heap is
    committed up front with a fixed young generation: with G1 sizing both
    adaptively, the peak resident set of one workload varied by a third
    between runs of the same code."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join("src", "main", "resources"),
                          os.path.join(spark_jars(), "*")])
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "graft.perfbench.Harness"])


def sources():
    main = sorted(glob.glob(os.path.join("src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no graft sources under src/main/scala "
                         "(run from the root of a graft checkout)")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + own


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _remove(p):
    if os.path.isdir(p):
        shutil.rmtree(p)
    elif os.path.exists(p):
        os.remove(p)


def _cached(path, stamp, make):
    """`path` as `make(tmp_path)` built it for `stamp`, rebuilt when the
    stamp changes."""
    stamp_file = path + ".stamp"
    if not (os.path.exists(path) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = path + ".tmp"
        _remove(tmp)
        make(tmp)
        _remove(path)
        os.rename(tmp, path)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return path


def compile_classes(log=sys.stderr):
    """(classes directory, its stamp): graft's sources and the harness,
    compiled when any of them changed."""
    srcs = sources()
    jars = spark_jars()
    stamp = digest(srcs, jars)

    def make(tmp):
        os.makedirs(tmp)
        print(f"perfbench: compiling {len(srcs)} Scala files", file=log)
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=log)
            raise SystemExit("perfbench: compilation failed")
    return _cached(os.path.join(BUILD, "classes"), stamp, make), stamp


def registry(classes_stamp, run_harness):
    """Query name → DuckDB oracle SQL of the compiled registry."""
    def make(tmp):
        result, _ = run_harness({"mode": "registry"})
        with open(tmp, "w") as f:
            json.dump(result, f, sort_keys=True)
    with open(_cached(os.path.join(BUILD, "registry.json"), classes_stamp, make)) as f:
        return json.load(f)


def fixture(run_harness, log=sys.stderr):
    """The fixture directory, written by graft.DataGen on first use."""
    gen = os.path.join("src", "main", "scala", "graft", "DataGen.scala")
    stamp = digest([gen], f"sf={SF} single-file tables")

    def make(tmp):
        print(f"perfbench: generating the sf{SF} fixture", file=log)
        os.makedirs(tmp)
        run_harness({"mode": "prepare", "sf": SF, "data_dir": os.path.abspath(tmp)})
    return _cached(os.path.join(BUILD, "data"), stamp, make)


if __name__ == "__main__":
    print(compile_classes()[0])
