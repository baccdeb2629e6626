#!/usr/bin/env python3
"""Survey of the 61 declared star-schema queries on the benchmark's schema.

    python3 perfbench/survey.py [--record]

Runs perfbench.Survey in two fresh JVMs. Each times every query warm under
`count()` and under the all-column consumer (minimum of 3) and digests its
output. Prints a markdown table ranked by all-column time, slowest first,
marking the queries the `star-adhoc` mix rule picks (see NOTES.md), and
fails when the two JVMs disagree on a digest. With --record it rewrites
perfbench/expected.tsv (query, digest) from the agreeing digests.
"""
import argparse
import statistics
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

LIMIT_S = 1800
MIX_EVERY = 6  # the mix takes every 6th query by rank, starting at the slowest


def survey() -> dict:
    work = build.OUT / "survey"
    cmd = run.prepare(work) + ["perfbench.Survey", "--work", str(work),
                               "--data", str(build.OUT / "data"), "--traces", str(build.OUT / "traces")]
    res = run.launch(cmd, work, LIMIT_S)
    if res is None or res[0] != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit("perfbench: survey JVM failed")
    rows = {}
    for line in res[1]:
        q, c, a, d = line.split("\t")
        rows[q] = (float(c), float(a), d)
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    first, second = survey(), survey()
    bad = [q for q in first if first[q][2] != second.get(q, (0, 0, ""))[2] or first[q][2].startswith(("unstable", "error"))]
    ranked = sorted(first, key=lambda q: -statistics.mean([first[q][1], second[q][1]]))
    print("| rank | query | count() s | all-column s | ratio | in mix |")
    print("|---|---|---|---|---|---|")
    tc = ta = 0.0
    for i, q in enumerate(ranked):
        c = statistics.mean([first[q][0], second[q][0]])
        al = statistics.mean([first[q][1], second[q][1]])
        tc += c
        ta += al
        mark = "yes" if i % MIX_EVERY == 0 else ""
        print(f"| {i + 1} | {q} | {c:.3f} | {al:.3f} | {al / max(c, 1e-9):.2f} | {mark} |")
    print(f"| | total ({len(ranked)}) | {tc:.2f} | {ta:.2f} | {ta / tc:.2f} | |")
    print("mix: " + ", ".join(f'"{q}"' for i, q in enumerate(ranked) if i % MIX_EVERY == 0))
    if bad:
        print("digests disagree or failed: " + "; ".join(f"{q} {first[q][2]} {second.get(q)}" for q in bad))
        return 1
    if a.record:
        rows = "".join(f"{q}\t{first[q][2]}\n" for q in sorted(first))
        (Path(__file__).resolve().parent / "expected.tsv").write_text(rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
