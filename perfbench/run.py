#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <star-adhoc|warehouse-ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), then
runs one benchmark JVM: one Spark session, one client thread, closed loop.
The JVM generates the star schema on first use (the same for every seed),
draws the op order and batch split from the seed, sets up, measures for
the given seconds and checks every output. Its last stdout line, printed last here
too, is the result object {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
line before it carries the run's settings and workload-specific numbers.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("star-adhoc", "warehouse-ingest")
DRIVER_MEM = "3g"
JVM_LIMIT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def prepare(work: Path) -> list:
    """Build, reset the run's scratch directory `work`, and return the
    JVM command prefix (java, its options and the class path)."""
    classpath = build.build() + [build.ROOT / "src" / "main" / "resources", build.spark_jars() / "*"]
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    for d in ("data", "traces"):
        (build.OUT / d).mkdir(exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{DRIVER_MEM}", f"-Xms{DRIVER_MEM}", "-Xss8m",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work / 'tmp'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return cmd + ["-cp", os.pathsep.join(map(str, classpath))]


def launch(cmd: list, work: Path, limit_s: int):
    """Run the JVM with stderr to work/jvm.log; return (exit code, stdout
    lines), or None when it ran past `limit_s` and was killed."""
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
    return proc.returncode, [l for l in stdout.splitlines() if l.strip()]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    out = build.OUT
    work = out / "run"
    cmd = prepare(work) + [
        "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work), "--data", str(out / "data"), "--traces", str(out / "traces"),
        "--expected", str(Path(__file__).resolve().parent / "expected.tsv")]
    res = launch(cmd, work, JVM_LIMIT_S)
    if res is None:
        sys.stderr.write(f"perfbench: run exceeded {JVM_LIMIT_S} s\n")
        return 3
    code, lines = res
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        result = None
    if code != 0 or result is None:
        sys.stderr.write("\n".join(lines)[-2000:] + "\n")
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        sys.stderr.write(f"perfbench: JVM exited with {code}\n")
        return 1
    for l in lines[:-1]:
        print(l)
    shutil.rmtree(work / "rounds", ignore_errors=True)
    shutil.rmtree(work / "spill", ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
