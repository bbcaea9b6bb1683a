#!/usr/bin/env python3
"""Per-query PROCESS-ISOLATED bench sweep (round-10 measurement hygiene).

The single-JVM sweep's wall-clocks swing up to 4x with the PREDECESSOR
query's spill/page-cache pressure (PLANS.md r9 interference notes), which
pollutes scale-ratio claims. This driver forks ONE fresh JVM per query —
same flags as `sbt runMain graft.Bench` (build.sbt's jdk17AddOpens +
driver heap) — so every measurement starts from an identical cold heap,
and merges the per-query JSON lines into one Bench-shaped artifact. Each
query's `jobs` and `tasks` come from the `bench_out/bench_full_<sf>.json`
its Bench run writes (the compact line does not carry them), so the sweep
shows which route an auto-routed operator took and what it cost.

Usage:
  python3 tools/sweep_isolated.py OUT.json SF_DIR q1,q2,... [reps]
Env: SPARK_GRAFT_CPUS (default 32), SPARK_DRIVER_MEM (default 8g),
     SPARK_GRAFT_SF2_DIR (optional companion SF for scale ratios).
"""
import json
import os
import subprocess
import sys

ADD_OPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# per-query work counters carried over from Bench's full artifact
COUNTERS = ("jobs", "tasks")
# every per-query map of the merged artifact
PER_QUERY = ("queries", "shuffle_mb", "spill_mb", "peak_mem_mb",
             "scale_ratio") + COUNTERS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CP_CACHE = os.path.join(REPO, "target", "runtime_classpath.txt")


def classpath() -> str:
    if os.path.exists(CP_CACHE):
        cp = open(CP_CACHE).read().strip()
        if cp:
            return cp
    out = subprocess.run(
        ["sbt", "-batch", "compile; export Runtime/fullClasspath"],
        cwd=REPO, capture_output=True, text=True, check=True).stdout
    lines = [ln for ln in out.splitlines()
             if ":" in ln and "/opt/spark/jars" in ln]
    if not lines:
        raise SystemExit(f"could not find classpath in sbt output:\n{out[-2000:]}")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CP_CACHE), exist_ok=True)
    open(CP_CACHE, "w").write(cp)
    return cp


def run_one(cp: str, sf_dir: str, query: str, reps: int) -> dict:
    """The query's compact metric line, plus `jobs` and `tasks` read from
    the full artifact Bench writes under the working directory."""
    full = os.path.join("bench_out", "bench_full_%s.json"
                        % os.path.basename(sf_dir.rstrip("/")))
    if os.path.exists(full):
        os.remove(full)  # never read a previous query's counters
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_QUERIES"] = query
    env["SPARK_GRAFT_REPS"] = str(reps)
    flags = []
    for p in ADD_OPENS_PKGS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    flags += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{env.get('SPARK_DRIVER_MEM', '8g')}"]
    r = subprocess.run(["java", *flags, "-cp", cp, "graft.Bench"],
                       env=env, capture_output=True, text=True)
    for ln in r.stdout.splitlines():
        ln = ln.strip()
        if ln.startswith('{"metric"') and '"queries"' in ln:
            rec = json.loads(ln)
            if os.path.exists(full):
                counters = json.load(open(full))
                for k in COUNTERS:
                    rec[k] = counters.get(k) or {}
            return rec
    raise SystemExit(
        f"{query}: no metric line (exit {r.returncode})\n"
        f"stdout tail: {r.stdout[-1500:]}\nstderr tail: {r.stderr[-1500:]}")


def main() -> int:
    out_path, sf_dir = sys.argv[1], sys.argv[2]
    queries = [q for q in sys.argv[3].split(",") if q]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    cp = classpath()
    merged = {"metric": "total", "value": 0.0, "unit": "sec",
              "isolation": "one JVM per query", "sf": sf_dir,
              **{k: {} for k in PER_QUERY}, "failed": []}
    for i, q in enumerate(queries):
        rec = run_one(cp, sf_dir, q, reps)
        for k in PER_QUERY:
            merged[k].update(rec.get(k) or {})
        if q in (rec.get("failed") or []):
            # Bench reports a failed query's fast-abort wall in `queries`
            # too — only the `failed` list tells a guard-thrown query from
            # a measurement (r13: dedup_cluster at sf100 trips the
            # guardBlockPairs contract in 1.5 s and looked like a success)
            merged["failed"].append(q)
            for k in PER_QUERY:
                merged[k].pop(q, None)
            print(f"[{i+1}/{len(queries)}] {q}: FAILED (reported by bench)",
                  flush=True)
        elif q in (rec.get("queries") or {}):
            merged["value"] += float(rec["queries"][q])
            print(f"[{i+1}/{len(queries)}] {q}: {rec['queries'][q]:.1f}s "
                  f"shuffle={merged['shuffle_mb'].get(q)}MB "
                  f"spill={merged['spill_mb'].get(q)}MB "
                  f"jobs={merged['jobs'].get(q)} tasks={merged['tasks'].get(q)}",
                  flush=True)
        else:
            merged["failed"].append(q)
            print(f"[{i+1}/{len(queries)}] {q}: FAILED", flush=True)
    merged["value"] = round(merged["value"], 1)
    json.dump(merged, open(out_path, "w"), indent=1)
    print(f"wrote {out_path}: {merged['value']}s over "
          f"{len(merged['queries'])} queries, {len(merged['failed'])} failed")
    return 1 if merged["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
