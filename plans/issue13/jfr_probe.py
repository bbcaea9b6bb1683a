#!/usr/bin/env python3
"""Executor codegen cost and per-pass compilations of a profiled perfbench run.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=probe.jfc \
        -XX:FlightRecorderOptions=stackdepth=256" \
        python3 perfbench/run.py --workload batch_iterative --seed 1202 --seconds 20 --trace 1
    python3 plans/issue13/jfr_probe.py run.jfr .bench_build/traces/batch_iterative-seed1202.jsonl

`probe.jfc` is the JDK's profile.jfc with `jdk.ClassDefine` enabled. The
JVM's clock zone must be UTC (JFR prints wall-clock times of day).

Prints, for executor threads ("Executor task launch worker"), the share of
execution samples whose stack holds `CodeGenerator$.compile` and
`ClassLoader.loadClass`, over the whole run and over the timed passes;
then, for each query, the generated classes (`...expressions.GeneratedClass`,
one per compilation) defined inside its spans, pass by pass.
"""
import collections
import datetime
import json
import re
import subprocess
import sys


def events(jfr):
    out = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample,jdk.ClassDefine",
                          "--stack-depth", "256", jfr], stdout=subprocess.PIPE, text=True,
                         check=True).stdout
    for block in out.split("\n}\n"):
        kind = re.search(r"^(jdk\.\w+) \{", block, re.M)
        when = re.search(r"startTime = (\d+):(\d+):([\d.]+)", block)
        if not kind or not when:
            continue
        h, m, s = int(when.group(1)), int(when.group(2)), float(when.group(3))
        yield kind.group(1), (h * 3600 + m * 60 + s) * 1000.0, block


def main(jfr, spans_file):
    spans = [json.loads(line) for line in open(spans_file)]
    bench = [s for s in spans if s["layer"] == "bench"]
    day0 = datetime.datetime.fromtimestamp(bench[0]["start_ms"] / 1000.0,
                                           datetime.timezone.utc)
    midnight = day0.replace(hour=0, minute=0, second=0, microsecond=0).timestamp() * 1000.0
    timed_from = min(s["start_ms"] for s in bench)
    samples = {"run": collections.Counter(), "timed": collections.Counter()}
    defined = []
    for kind, tod_ms, block in events(jfr):
        t = midnight + tod_ms
        if kind == "jdk.ClassDefine":
            if re.search(r"definedClass = org\.apache\.spark\.sql\.catalyst\.expressions"
                         r"\.GeneratedClass \(", block):
                defined.append(t)
            continue
        if "Executor task launch worker" not in block:
            continue
        windows = ["run"] + (["timed"] if t >= timed_from else [])
        for w in windows:
            samples[w]["samples"] += 1
            if "CodeGenerator$.compile(" in block:
                samples[w]["CodeGenerator.compile"] += 1
            if "ClassLoader.loadClass(" in block:
                samples[w]["ClassLoader.loadClass"] += 1
    for w, c in samples.items():
        n = c["samples"]
        print(f"executor samples ({w}): {n}; " + ", ".join(
            f"{k} {100.0 * c[k] / n:.1f} %" for k in ("CodeGenerator.compile",
                                                       "ClassLoader.loadClass")) if n else "")
    per = collections.defaultdict(list)
    for b in sorted(bench, key=lambda s: s["start_ms"]):
        per[b["name"]].append(sum(1 for t in defined if b["start_ms"] <= t <= b["end_ms"]))
    for q, counts in sorted(per.items()):
        print(f"{q}: generated classes per timed pass {counts}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
