"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars, into `.bench_build/perfbench/` at the repository root.

    python3 perfbench/build.py          # prints the classpath

Each half is rebuilt only when a digest of its sources changes. The Spark
jar directory is `$SPARK_HOME/jars` when SPARK_HOME is set, otherwise the
`unmanagedBase` that the repository's build.sbt declares.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
OUT = REPO / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = REPO / "build.sbt"
        if not sbt.is_file():
            raise BuildError("no build.sbt: run from a graft checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise BuildError("build.sbt declares no unmanagedBase; set SPARK_HOME")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark/Scala jars under {jars}")
    return jars


def sources(root: Path):
    return sorted(p for p in root.rglob("*") if p.suffix in (".scala", ".java") and p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_tree(srcs, dest: Path, classpath, jars: Path, log: Path):
    """scalac (and javac for Java sources) into a fresh `dest`."""
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(dest.name + ".args")
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = os.pathsep.join(str(c) for c in classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)]
    if cp:
        cmd += ["-classpath", cp]
    steps = [cmd + ["@" + str(argfile)]]
    java = [s for s in srcs if s.suffix == ".java"]
    if java:
        steps.append(["javac", "-nowarn", "-d", str(tmp), "-cp",
                      os.pathsep.join([str(tmp), cp, str(jars / "*")])] + [str(s) for s in java])
    with open(log, "a") as lf:
        for step in steps:
            if subprocess.run(step, stdout=lf, stderr=subprocess.STDOUT).returncode != 0:
                raise BuildError(f"compile failed, see {log}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def build():
    """Compiles what is stale; returns (runtime classpath, whether it compiled)."""
    jars = spark_jars()
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    graft_src = sources(REPO / "src" / "main")
    if not graft_src:
        raise BuildError("no graft sources under src/main")
    bench_src = sources(HERE / "src")
    graft_dir, bench_dir = OUT / "graft-classes", OUT / "bench-classes"
    graft_stamp = digest(graft_src)
    bench_stamp = digest(bench_src, graft_stamp)
    log.unlink(missing_ok=True)
    compiled = False
    for srcs, dest, cp, stamp in ((graft_src, graft_dir, [], graft_stamp),
                                  (bench_src, bench_dir, [graft_dir], bench_stamp)):
        stamp_file = dest.with_name(dest.name + ".stamp")
        if dest.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
            continue
        compile_tree(srcs, dest, cp, jars, log)
        stamp_file.write_text(stamp)
        compiled = True
    return [bench_dir, graft_dir, jars / "*"], compiled


if __name__ == "__main__":
    try:
        print(os.pathsep.join(str(p) for p in build()[0]))
    except BuildError as e:
        sys.exit(f"build: {e}")
