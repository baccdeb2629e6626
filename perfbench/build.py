#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) into
.bench_build/perfbench/engine and the benchmark harness (perfbench/src)
against it into .bench_build/perfbench/harness, with the Scala compiler
shipped in the Spark distribution.

Usage: python3 perfbench/build.py   (run.py calls it before every run;
each stage recompiles only when one of its source files changed, so a
change to the harness alone does not recompile the engine)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
SCALA = "2.13.17"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return Path(m.group(1))


def sources(d: Path):
    if not d.is_dir():
        raise SystemExit(f"perfbench: missing source directory {d}")
    return sorted(d.rglob("*.scala"))


def compile_stage(name: str, srcs, classpath, upstream: str = "") -> (Path, str):
    """Compile `srcs` into OUT/<name> unless its stamp (a hash of the
    sources and of the upstream stage's stamp) is unchanged."""
    jars = spark_jars()
    compiler = [jars / f"scala-{n}-{SCALA}.jar" for n in ("compiler", "library", "reflect")]
    for j in compiler:
        if not j.is_file():
            raise SystemExit(f"perfbench: missing {j}")
    digest = hashlib.sha256(upstream.encode())
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    classes, stamp_file = OUT / name, OUT / f"{name}.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    stamp_file.unlink(missing_ok=True)
    classes.mkdir(parents=True)
    argfile = OUT / f"{name}.sources"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-cp", os.pathsep.join(map(str, classpath)), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"perfbench: compiling the {name} failed")
    stamp_file.write_text(stamp)
    return classes, stamp


def build() -> list:
    """Classpath entries of the compiled engine and harness."""
    jars = spark_jars() / "*"
    engine, stamp = compile_stage("engine", sources(ROOT / "src" / "main" / "scala"), [jars])
    harness, _ = compile_stage("harness", sources(HERE / "src"), [engine, jars], stamp)
    return [harness, engine]


if __name__ == "__main__":
    print(os.pathsep.join(map(str, build())))
