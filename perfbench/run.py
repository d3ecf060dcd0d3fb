#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one run.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline); later runs reuse the build while no source
changed. Each run generates the workload's inputs from `--seed`, starts
one JVM (`local[N]`, N = cores) that sets up, runs an untimed warm-up
pass whose results are checked here, then timed passes for `--seconds`.
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the metrics are the
end-to-end ones with `--trace 0` and the per-module ones with `--trace 1`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(HERE, "work")
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]
RUN_TIMEOUT_S = 170
HEAP = "3g"

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("cpu_s", "s"),
              ("live_heap_mb", "MB")]
PER_LAYER = [
    ("core.session_s", "s"), ("queries.warm_pass_s", "s"),
    ("queries.body_s", "s"), ("queries.body_jobs", "count"),
    ("plans.plan_s", "s"), ("plans.exchanges", "count"),
    ("plans.reused_exchanges", "count"), ("operators.action_s", "s"),
    ("operators.jobs", "count"), ("operators.stages", "count"),
    ("operators.tasks", "count"), ("operators.task_cpu_s", "s"),
    ("operators.task_run_s", "s"), ("operators.core_util", "ratio"),
    ("operators.gc_s", "s"), ("operators.shuffle_write_mb", "MB"),
    ("operators.shuffle_read_mb", "MB"), ("operators.spill_mb", "MB"),
    ("operators.task_skew", "ratio"), ("sources.input_mb", "MB"),
    ("sources.input_rows", "count"), ("functions.tokenize_s", "s"),
    ("functions.minhash_s", "s"), ("streaming.batches", "count"),
    ("streaming.batch_p50_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_digest(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else sorted(
            glob.glob(os.path.join(p, "**", "*"), recursive=True))
        for f in files:
            if os.path.isfile(f):
                h.update(os.path.relpath(f, root).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness; return (classpath, jvm options)."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b["digest"] == digest:
            return b["classpath"], b["java_options"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    with open(os.path.join(HERE, "target", "launch.txt")) as fh:
        classpath, *java_options = fh.read().splitlines()
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath,
                   "java_options": java_options}, fh)
    return classpath, java_options


def steal_seconds():
    """Host steal time so far, in CPU-seconds, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return int(f[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def check_wordcount(expected, res):
    """Spark's rows must equal the generator's tally, in the same order,
    and be ordered by (cnt ASC, word ASC)."""
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{res}/wordcount/part-*.parquet"))
    if not files:
        return ["wordcount: no output"]
    got = []
    for f in files:
        t = pq.read_table(f, columns=["word", "cnt"])
        got.extend(zip(t.column("word").to_pylist(), t.column("cnt").to_pylist()))
    errors = []
    if any((a[1], a[0]) > (b[1], b[0]) for a, b in zip(got, got[1:])):
        errors.append("wordcount: rows not ordered by cnt ASC, word ASC")
    with open(f"{expected}/tally.tsv") as fh:
        want = [(w, int(c)) for w, c in (ln.rstrip("\n").split("\t") for ln in fh)]
    if got != want:
        bad = next(((g, w) for g, w in zip(got, want) if g != w),
                   (len(got), len(want)))
        errors.append(f"wordcount: differs from tally (rows {len(got)} vs "
                      f"{len(want)}; first difference {bad})")
    return errors


def norm(v):
    if v is None:
        return ("z", "none")
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else repr(v))
    return (type(v).__name__, str(v))


def check_oracle(inp, res, oracle):
    """Each query's rows must equal its DuckDB oracle's, as a multiset."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(f"{inp}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    errors = []
    for name, sql in sorted(oracle.items()):
        try:
            want = con.sql(sql).df()
            got = con.sql(f"SELECT * FROM '{res}/{name}/*.parquet'").df()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            errors.append(f"{name}: {str(e).splitlines()[0]}")
            continue
        cols = sorted(want.columns)
        if cols != sorted(got.columns):
            errors.append(f"{name}: columns {sorted(got.columns)} vs {cols}")
            continue
        w = sorted(tuple(norm(v) for v in r) for r in want[cols].itertuples(index=False))
        g = sorted(tuple(norm(v) for v in r) for r in got[cols].itertuples(index=False))
        if w != g:
            errors.append(f"{name}: {len(g)} rows differ from the oracle's {len(w)}")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        raise SystemExit("run from the repository root: no engine sources here")
    steal0 = steal_seconds()
    wall0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    classpath, java_options = build(root)

    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    os.makedirs(out)
    summary = gen.generate(a.workload, a.seed, run_dir)
    log(f"inputs (seed {a.seed}): {json.dumps(summary)}")

    cpus = len(os.sched_getaffinity(0))  # what `nproc` reports
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=inp,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # Spark's temporary checkpoints and scratch files stay in the run dir
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}"] + java_options +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}",
            "-cp", classpath, "perfbench.Harness",
            "--workload", a.workload, "--input", inp, "--out", out,
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        try:
            p = subprocess.run(cmd, cwd=run_dir, env=env, stdout=logf,
                               stderr=subprocess.STDOUT, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness did not finish in {RUN_TIMEOUT_S} s")
    result_file = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"harness exited with {p.returncode} and no result")
    with open(result_file) as fh:
        r = json.load(fh)

    # a checked execution that failed is already counted; its missing
    # output is not a second failure
    res = os.path.join(out, "results")
    unchecked = {e["query"] for e in r["warm"]
                 if e["tag"] == f"warm/{e['query']}" and "error" in e}
    if a.workload == "wordcount":
        mismatches = [] if unchecked else check_wordcount(
            os.path.join(run_dir, "expected"), res)
    else:
        with open(os.path.join(out, "oracle.json")) as fh:
            oracle = {q: sql for q, sql in json.load(fh).items()
                      if q not in unchecked}
        mismatches = check_oracle(inp, res, oracle)
    errors = [f"{e['tag']}: {e['error']}" for e in r["warm"] if "error" in e]
    errors += [f"{e['tag']}: {e['error']}"
               for p_ in r["timed"] for e in p_ if "error" in e]
    for m in mismatches + errors:
        log(f"FAILED {m}")
    failed = r["failed"] + len(mismatches)

    steal = steal_seconds() - steal0
    wall = time.time() - wall0
    log(f"{a.workload}: {r['passes']} timed passes of {r['queries']}, "
        f"{cpus} cores; host steal {steal:.2f} CPU-s over {wall:.1f} s wall")
    if a.trace:
        metrics = {k: {"value": r["layers"][k], "unit": u} for k, u in PER_LAYER}
        with open(os.path.join(run_dir, "trace.json"), "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "steal_cpu_s": steal, "metrics": metrics,
                       "per_query": r["layers_by_query"],
                       "warm": r["warm"], "timed": r["timed"]}, fh, indent=1)
    else:
        metrics = {k: {"value": r[k], "unit": u} for k, u in END_TO_END}
    # an output that could not be checked is not a correct one
    print(json.dumps({"correct": not mismatches and not unchecked,
                      "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
