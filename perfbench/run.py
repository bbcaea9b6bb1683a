#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark's JVM program (perfbench/src) from source (sbt, offline) and generates the input
tables; later runs reuse both while the sources are unchanged. Everything
is written under `.bench_build/` in the checkout; each run's scratch
directory (query results, kafka-wire logs, checkpoints, Spark's local
files) is deleted when the run ends.

Workloads (see README.md for why each exists):
  batch_iterative  closed loop over multi-job LLM-data queries
  batch_scan       closed loop over scan-, exchange- and kernel-heavy
                   queries on GenScale-scaled tables
  stream_ingest    restart of the reference consumer topology on a
                   kafka-wire topic with a backlog under open-loop load

Output: one line per metric (name, value, unit, samples), then the result
as one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (from a run with listeners and spans on; the spans are
written to .bench_build/traces/).

    python3 perfbench/run.py --make-expected

recomputes expected.json: the input tables' content hashes and each batch
query's result hash from the DuckDB oracle (`SparkEntry.oracleSql`).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
HEAP = "3g"
DRAIN_S = 30  # stream: how long the consumer may take for the last records
BASE_SF = 0.01
SCALE_COPIES = 10

WORKLOADS = {
    "batch_iterative": {"data": "base", "setups": 7, "queries": [
        "embedding_cluster", "dedup_cluster", "url_filter_stream"]},
    "batch_scan": {"data": "scaled", "setups": 7, "queries": [
        "q1_agg", "stat_aggs", "sessionize_batch", "window_lag", "join_left"]},
    "stream_ingest": {"setups": 15, "rate": 20000, "backlog": 600000, "warmup": 20000,
                      "subpartitions": 16, "budget_bytes": 64 << 20,
                      "trigger": "1 second"},
}


def metric_names(kind):
    """(name, unit) of the end_to_end or per_layer metrics BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compile engine + benchmark program once per source state; returns the
    classpath."""
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    sbt_dir = os.path.join(BUILD, "sbt")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                f"-Djava.io.tmpdir={tmp}",
                                f"-Djna.tmpdir={tmp}", f"-Dperfbench.target={out}",
                                "-Dsbt.server.autostart=false"])
    log("building the engine and the benchmark program (sbt)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "--sbt-dir", sbt_dir, "--sbt-boot", os.path.join(sbt_dir, "boot"),
                        "--ivy", os.path.join(sbt_dir, "ivy"), "writeClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout[-5000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def java(classpath, main, args, workdir, env=None):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # a fixed, pre-touched heap: the GC's heap sizing then neither moves
    # the timings nor the resident set (peak_rss_mb counts the heap's used
    # part, Main.peakRssMb)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", classpath, main] + args
    return subprocess.Popen(cmd, cwd=workdir, stdout=sys.stderr, stderr=sys.stderr,
                            env=env, start_new_session=True)


def wait(proc, timeout):
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {timeout} s")


# ---------------------------------------------------------------- data

def table_hash(dir_path):
    """Order-independent digest of each table's content."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for t in sorted(os.listdir(dir_path)):
        if not t.endswith(".parquet"):
            continue
        p = os.path.join(dir_path, t)
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        out[t[:-8]] = con.execute(
            f"SELECT md5(string_agg(r, chr(10) ORDER BY r)) FROM "
            f"(SELECT CAST(t AS VARCHAR) r FROM {src} t)").fetchone()[0]
    return out


def data(classpath, expected, name):
    """The directory of input tables `name`: "base" from gen_tables.py, or
    "scaled", GenScale's 10x copy of it. Each is made once per checkout and
    checked against the content hashes in expected.json (None: unchecked,
    and made again next time)."""
    root = os.path.join(BUILD, "data")
    out = os.path.join(root, name)
    stamp = out + ".verified"
    if os.path.exists(stamp):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    log(f"generating the {name} tables")
    if name == "base":
        import gen_tables
        gen_tables.generate(out, BASE_SF)
    else:
        base = data(classpath, expected, "base")
        work = os.path.join(root, "genscale")
        os.makedirs(work, exist_ok=True)
        p = java(classpath, "graft.GenScale", [base, out, str(SCALE_COPIES)], work,
                 env=dict(os.environ, SPARK_GRAFT_CPUS=str(CORES)))
        if wait(p, 600) != 0:
            fail("GenScale failed")
        shutil.rmtree(work)
    if expected is not None:
        got = table_hash(out)
        if got != expected["tables"][name]:
            bad = sorted(k for k in got if got[k] != expected["tables"][name].get(k))
            fail(f"{name} tables differ from expected.json: {bad}")
        with open(stamp, "w") as f:
            f.write("ok\n")
    return out


# ---------------------------------------------------------------- checks

def canonical():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    return check_oracle


def frame_hash(df):
    """md5 over the oracle checker's canonical form: columns sorted by
    name, rows sorted, every cell in its string form."""
    co = canonical()
    df = co.canon(df)
    h = hashlib.md5()
    h.update("\t".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(("\n" + "\t".join(co.sform(v) for v in row)).encode())
    return h.hexdigest()


def result_hash(path):
    import pandas as pd
    return frame_hash(pd.read_parquet(path))


# ---------------------------------------------------------------- runs

def run_workload(name, seed, seconds, trace):
    w = WORKLOADS[name]
    expected = json.load(open(os.path.join(BENCH, "expected.json")))
    classpath = build()
    work = os.path.join(BUILD, "run", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    span_file = os.path.join(traces, f"{name}-seed{seed}.jsonl")
    out = os.path.join(work, "out.json")
    args = [f"trace={trace}", f"seed={seed}", f"seconds={seconds}", f"cores={CORES}",
            f"setups={w['setups']}", f"out={out}", f"spans={span_file}"]
    if "queries" in w:
        args += ["mode=batch", f"data={data(classpath, expected, w['data'])}",
                 f"queries={','.join(w['queries'])}", f"results={os.path.join(work, 'results')}"]
    else:
        args += ["mode=stream", f"log={os.path.join(work, 'log')}",
                 f"checkpoints={os.path.join(work, 'checkpoints')}",
                 f"generator={os.path.join(BENCH, 'gen_stream.py')}",
                 f"gen_spans={os.path.join(work, 'gen_spans.jsonl')}",
                 f"rate={w['rate']}", f"backlog={w['backlog']}", f"warmup={w['warmup']}",
                 f"subpartitions={w['subpartitions']}", f"budget_bytes={w['budget_bytes']}",
                 f"trigger={w['trigger']}", f"timeout_s={seconds + 100}",
                 f"drain_s={DRAIN_S}"]
    try:
        t0 = time.time()
        if wait(java(classpath, "perfbench.Main", args, work), seconds + 150) != 0:
            fail("the benchmark program failed")
        log(f"the benchmark program ran {time.time() - t0:.1f} s")
        rec = json.load(open(out))
        if "queries" in w:
            failures = check_batch(rec, w, work, expected["results"][w["data"]])
        else:
            failures = check_stream(rec)
            gen_spans = os.path.join(work, "gen_spans.jsonl")
            if trace and os.path.exists(gen_spans):
                with open(span_file, "a") as f, open(gen_spans) as g:
                    f.write(g.read())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.join(BUILD, "run")):
            os.rmdir(os.path.join(BUILD, "run"))
    return rec, failures


def check_batch(rec, w, work, expected):
    """Failed operations: queries that threw, plus check-pass results whose
    canonical hash differs from the oracle's."""
    failures = dict(rec["failed"])
    for q in w["queries"]:
        path = os.path.join(work, "results", q)
        if q in failures:
            continue
        if not os.path.isdir(path):
            failures[q] = "no result"
        elif result_hash(path) != expected[q]:
            failures[q] = "result differs from the oracle"
    # the check pass counts as one more attempt of each query
    rec["attempted"] += len(w["queries"])
    return failures


def check_stream(rec):
    """Lost or extra records against the generator's counts, and a
    generator that fell behind its own schedule (then the run measured the
    generator, not the engine)."""
    failures = {}
    if rec["failed"]:
        failures["records"] = (f"{rec['failed']} lost or extra: consumed {rec['consumed']} of "
                               f"{rec['produced']}, delivered {rec['delivered']} of "
                               f"{rec['distinct']} distinct")
    if rec["generator.late_p99_ms"] > 250:
        failures["generator"] = f"fell behind: p99 lateness {rec['generator.late_p99_ms']:.0f} ms"
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-expected", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail("run from the root of a checkout of the engine (src/main/scala, tools/)")
    if a.make_expected:
        import oracle_hashes
        return oracle_hashes.main(sys.modules[__name__])
    if not a.workload:
        ap.error("--workload is required")
    rec, failures = run_workload(a.workload, a.seed, a.seconds, a.trace)
    attempted = int(rec["attempted"])
    failed = len(failures) if "queries" in WORKLOADS[a.workload] else int(rec["failed"]) + \
        (1 if "generator" in failures else 0)
    for k in ("passes", "per_query_s", "query_samples_s", "setup_all_s", "catchup_triggers",
              "steady_triggers"):
        if k in rec:
            log(f"{k}: {rec[k]}")
    for k, v in failures.items():
        log(f"FAILED {k}: {v}")
    metrics = {}
    for name, unit in metric_names("per_layer" if a.trace else "end_to_end"):
        metrics[name] = {"value": float(rec.get(name, 0.0)), "unit": unit}
        extra = ""
        if name.startswith("latency"):
            extra = f"  ({rec['latency_samples']} samples)"
        print(f"{name:28s} {metrics[name]['value']:16.4f} {unit}{extra}")
    print(f"{'failed_frac':28s} {failed / attempted:16.6g}  ({failed} of {attempted})")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
