#!/usr/bin/env python3
"""Repo benchmark: daily ingest, and staged-history reads with a query mix.

    python3 perfbench/run.py --workload ingest|history \
        --seed N --seconds S --trace 0|1 [--record FILE] [--corrupt-truth]

Run from the root of a checkout. The first call builds the program and the
benchmark from source with sbt (perfbench/build.sbt, output under
.bench_build/); later calls reuse the build while the sources are
unchanged. Each call starts one JVM with a single Spark session on
local[cores] and runs a closed loop with one client: set-up, warm-up,
then back-to-back passes of the workload's operations for --seconds.
Outputs are checked against the seeded generator's ground truth (ingest,
history) and against each query's DuckDB oracle (history's query mix).

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. The line before it holds
the run's environment. --record also writes both to FILE. The exit code is
nonzero when any output is wrong or the run could not be made.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20
RUN_LIMIT_S = 170
START = time.time()

# history's query mix: queries over the seeded events table, each chosen
# for the layer it drives (see METRICS.md).
QUERIES = [
    "q35_json_map",
    "q58_heavy_hitters",
    "q369_stream_dedup",
]
EVENT_ROWS = 30_000

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        # build.sbt takes the Spark jars from $SPARK_HOME/jars
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {proc.returncode})")
    cp = [l for l in proc.stdout.splitlines() if "scala-library" in l and ":" in l][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def make_events(path, rows, seed):
    """Seeded `events` table with the shape the engine's queries expect."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 1_000_000
    offsets = sorted(rng.randrange(span_us) for _ in range(rows))
    users = 1500
    weights = [1.0 / (i + 1) ** 0.8 for i in range(users)]
    uids = rng.choices(range(users), weights=weights, k=rows)
    types = ["view", "click", "purchase", "signup", "error"]
    table = pa.table({
        "event_id": pa.array(range(rows), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=o) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array(uids, pa.int64()),
        "event_type": pa.array([rng.choice(types) for _ in range(rows)], pa.string()),
        "value": pa.array([round(rng.uniform(0.0, 50.0), 2) for _ in range(rows)], pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(rows)], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))


def oracle_check(out_dir, data_dir, corrupt=False):
    """Each query's Spark result against its DuckDB oracle, with the repo's
    own scale-point check (tools/check_scale.py: same columns, same rows in
    the same order, a time limit per oracle). `corrupt` first rewrites each
    oracle to drop its last row, a wrong answer the check must catch.
    Returns one message per query that did not pass."""
    path = os.path.join(out_dir, "oracle_sql.json")
    with open(path) as f:
        oracle = json.load(f)
    if corrupt:
        oracle = {k: f"SELECT * FROM ({q}) LIMIT (SELECT count(*) - 1 FROM ({q}))"
                  for k, q in oracle.items()}
        with open(path, "w") as f:
            json.dump(oracle, f)
    # its own process group, so a timeout also stops its per-oracle workers
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "tools", "check_scale.py"), out_dir, data_dir,
         str(ORACLE_TIMEOUT_S)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - START)))[0]
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        out = ""
    verdict = {l.split(":", 1)[0]: l for l in out.splitlines()}
    bad = [verdict.get(q, f"{q}: no verdict from the oracle check") for q in sorted(oracle)]
    bad = [b for b in bad if ": PASS" not in b]
    return [b[:300] for b in bad]


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except OSError:
        return 0, 0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record")
    ap.add_argument("--corrupt-truth", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", os.path.join(work, "record.json")]
        if a.corrupt_truth:
            args.append("--corrupt-truth")
        if a.workload == "history":
            make_events(os.path.join(work, "data"), EVENT_ROWS, a.seed)
            args += ["--data", os.path.join(work, "data"), "--queries", ",".join(QUERIES)]
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
        heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
        # a fixed heap: the full GC after each operation would otherwise
        # shrink it, and the next operation would pay to grow it again
        cmd = ([java, f"-Xms{heap}", f"-Xmx{heap}",
                f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main"] + args)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        ticks0 = cpu_ticks()
        t_jvm = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT, env=env,
                                  timeout=JVM_TIMEOUT_S)
        ticks1 = cpu_ticks()
        rec_times = {"jvm_s": time.time() - t_jvm}
        if proc.returncode != 0 or not os.path.exists(os.path.join(work, "record.json")):
            with open(os.path.join(work, "jvm.log")) as f:
                lines = [l for l in f if not l.lstrip().startswith(("at ", "..."))]
            sys.stderr.write("".join(lines[-60:]))
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
        with open(os.path.join(work, "record.json")) as f:
            rec = json.load(f)
        if a.workload == "history":
            t_oracle = time.time()
            bad = oracle_check(os.path.join(work, "query_out"), os.path.join(work, "data"),
                               a.corrupt_truth)
            rec_times["oracle_s"] = time.time() - t_oracle
            # a query whose result is wrong failed in every pass
            rec["failed"] += len(bad) * rec["info"]["passes"]
            rec["errors"] += bad
        if a.trace:
            spans = os.path.join(BUILD, "trace", f"{a.workload}-{a.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), spans)
            rec["info"]["spans"] = os.path.relpath(spans, ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = rec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    finite = all(isinstance(x["value"], (int, float)) for x in metrics.values())
    correct = rec["failed"] == 0 and not rec["errors"] and finite
    env = {
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores_used": cores, "git_commit": git_commit(), "source_digest": source_digest(),
        "seed": a.seed, "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
        "failed_frac": rec["failed"] / max(1, rec["attempted"]), "errors": rec["errors"],
        **rec["info"], **rec_times,
        "run_wall_s": time.time() - START,
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
    }
    result = {"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
              "metrics": metrics}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"env": env, "result": result,
                                "end_to_end": rec["end_to_end"],
                                "per_layer": rec["per_layer"]}) + "\n")
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
