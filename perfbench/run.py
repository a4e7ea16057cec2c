#!/usr/bin/env python3
"""graft's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload catalog_small --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the library and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The run generates its inputs from --seed, runs
the workload in one JVM (perfbench.Harness), checks the results, and prints
one JSON object as the last line of standard output. With --trace 0 it
holds the end-to-end metrics, with --trace 1 the per-layer metrics of a
separately traced run. The box (load, cores, JVM, commit) and the full
detail go to a run record under .bench_build/perfbench/runs/. A wrong or
failed result makes the command exit 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark's directory free of caches

import pyarrow as pa  # noqa: E402  (after the path set-up above)
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle as orc  # noqa: E402

# A run is marked loaded when it starts with a 1-minute load above N, or
# when other guests of the host took more than this share of the CPU time.
STEAL_LOADED = 0.02
DEADLINE_S = 170  # a run must end within 180 s; the first one may also build
BUILD_DEADLINE_S = 850
OUT = os.path.join(".bench_build", "perfbench")

# catalog_small: every 26th operator outside the corpus modules, in name
# order. Fixed by name, so that a new operator does not change what the
# benchmark measures.
CATALOG_OPS = [
    "ab_cuped", "agg_pivot", "corpus_gini", "feature_winsorize", "interval_merge",
    "limit_topk", "sample_stratified", "sink_stream_upsert", "text_readability", "tpch_q6",
]
# corpus_heavy: corpus operators whose task compute share is high on the
# amplified corpus: embedding, n-gram, fuzzy and MinHash dedup. An even
# count, so op_p50_s is the mean of the two middle operators and does not
# jump when two of them trade places.
CORPUS_OPS = ["dedup_embed", "dedup_ngram", "dedup_fuzzy", "minhash_eval"]

# Sizes per workload; "smoke" is the tiny setting the smoke test runs.
SIZES = {
    "catalog_small": {"run": {"sf": 0.001}, "smoke": {"sf": 0.001, "ops": 3}},
    "corpus_heavy": {"run": {"sf": 0.01, "copies": 3}, "smoke": {"sf": 0.001, "copies": 1, "ops": 2}},
    "etl_upsert": {"run": {"sf": 0.01, "batches": 3, "rows": 1500},
                   "smoke": {"sf": 0.001, "batches": 2, "rows": 200}},
    "stream_fold": {"run": {"sf": 0.01, "chunks": 3}, "smoke": {"sf": 0.001, "chunks": 2}},
}

END_TO_END = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "op_p50_s": "s",
              "rows_per_s": "rows/s", "peak_rss_mb": "MB"}
# Layer figures that the benchmark prints in its last line. The others are
# times that read exactly 0 on some workload (a layer it never enters, or a
# phase below the millisecond resolution Spark reports); they are printed on
# the "# layers:" line and kept in the run record.
PER_LAYER = {
    "tables.resolve_ms": "ms", "ops.build_s": "s", "ops.eager_jobs": "count",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.tasks_per_job": "ratio", "scheduler.driver_gap_s": "s",
    "tasks.run_s": "s", "tasks.cpu_s": "s", "tasks.cpu_util": "ratio", "tasks.skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "sinks.rows_written": "count", "sinks.mb_written": "MB", "sinks.write_amp": "ratio",
    "jdbc.rows": "count", "streams.state_rows": "count", "streams.state_mb": "MB",
    "trace.overhead_s": "s",
}

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_digest(root):
    """Digest of everything the build reads: the library, the harness and
    their build files."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp_path = os.path.join(OUT, "build.json")
    stamp = source_digest(root)
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            b = json.load(f)
        if b["stamp"] == stamp:
            return b
    log("building with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    # offline, with sbt's own state kept inside the checkout
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.global.base=" + os.path.abspath(os.path.join(OUT, "sbt-global")) +
                       " -Dsbt.server.autostart=false -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_DEADLINE_S)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    b = {"stamp": stamp, "classpath": lines[-1].strip()}
    os.makedirs(OUT, exist_ok=True)
    java(b["classpath"], ["--mode", "oracle-sql", "--out", os.path.join(OUT, "oracle_sql.json")],
         os.path.join(OUT, "oracle.log"), 120)
    with open(stamp_path, "w") as f:
        json.dump(b, f)
    return b


def java(cp, args, log_path, timeout, work=None):
    tmp = os.path.abspath(os.path.join(work or OUT, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # fixed heap, throughput collector: peak RSS then tracks what the run
    # allocates instead of when the collector chose to grow the heap. A
    # metaspace threshold above what Spark's generated classes take, so
    # loading them triggers no full collections. The client compiler only:
    # with C2, warm passes kept getting faster for the whole run (the sixth
    # 25-33 % faster than the first), so a run measured where in the warm-up
    # its window fell; with C1 they level off after one warm pass, which the
    # harness runs untimed.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
            "-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dderby.stream.error.file=" + os.path.join(tmp, "derby.log")] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Harness"] + args)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {timeout:.0f} s (log: {log_path})")
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"harness exited with {rc} (log: {log_path})")


def prepare_inputs(workload, seed, size):
    """Generate the seed's inputs (cached per workload, seed and size)."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    data = os.path.abspath(os.path.join(OUT, "data", f"{workload}-seed{seed}-{key}"))
    done = os.path.join(data, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.time()
        gen.generate(os.path.join(data, "tables"), seed, size["sf"])
        if workload == "corpus_heavy":
            gen.amplify_corpus(os.path.join(data, "tables"), seed, size["copies"])
        if workload == "etl_upsert":
            gen.etl_destination(os.path.join(data, "tables"), os.path.join(data, "destination"))
            os.makedirs(os.path.join(data, "batches"))
            gen.etl_batches(os.path.join(data, "batches"), seed,
                            n_keys=int(1_500_000 * size["sf"]),
                            n_batches=size["batches"], batch_rows=size["rows"])
        if workload == "stream_fold":
            stage_chunks(os.path.join(data, "tables", "events.parquet"),
                         os.path.join(data, "chunks"), size["chunks"])
        with open(done, "w") as f:
            f.write(f"generated in {time.time() - t0:.2f} s\n")
    prune(os.path.join(OUT, "data"), keep=8)
    return data


def stage_chunks(events, out, n):
    """Hash-split the events into n chunk files, oldest mtime first, so a
    file-source stream with maxFilesPerTrigger=1 reads one per trigger."""
    t = pq.read_table(events)
    os.makedirs(out)
    ids = t.column("event_id").to_numpy()
    for i in range(n):
        part = t.filter(pa.array(ids % n == i))
        p = os.path.join(out, f"chunk_{i:03d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))


def prune(d, keep):
    entries = sorted((os.path.join(d, e) for e in os.listdir(d)), key=os.path.getmtime)
    for e in entries[:-keep]:
        shutil.rmtree(e, ignore_errors=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s():
    """CPU time the hypervisor gave to others, summed over CPUs, in s."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def check(workload, verify, data, sql):
    """{check: passed} for the harness's verification output."""
    tables = os.path.join(data, "tables")
    if "error" in verify:
        return {"verify": False}
    if workload in ("catalog_small", "corpus_heavy"):
        want = orc.op_digests(tables, sql, list(verify), os.path.join(data, "oracle.json"))
        return {op: "digest" in got and got == want[op] for op, got in verify.items()}
    if workload == "etl_upsert":
        d = os.path.join(data, "batches")
        want = orc.etl_expected(tables, sorted(os.path.join(d, f) for f in os.listdir(d)))
        return {leg: verify.get(leg) == want for leg in ("parquet", "jdbc")}
    return {fold: orc.fold_expected(tables, sql, got["op"], got["names"]) ==
            {"rows": got["rows"], "digest": got["digest"]} for fold, got in verify.items()}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, a few units")
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    load_before = loadavg()
    cores = max(1, min(len(os.sched_getaffinity(0)) - 1, 4))
    b = build(root)
    size = SIZES[a.workload]["smoke" if a.smoke else "run"]
    data = prepare_inputs(a.workload, a.seed, size)
    tables = os.path.join(data, "tables")

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.abspath(os.path.join(OUT, "runs", run_id))
    os.makedirs(work)
    args = ["--mode", "run", "--workload", a.workload, "--data", tables, "--work", work,
            "--cores", str(cores), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", os.path.join(work, "harness.json")]
    with open(os.path.join(OUT, "oracle_sql.json")) as f:
        sql = json.load(f)["oracle"]
    if a.workload in ("catalog_small", "corpus_heavy"):
        ops = (CATALOG_OPS if a.workload == "catalog_small" else CORPUS_OPS)[:size.get("ops")]
        ops = random.Random(a.seed).sample(ops, len(ops))
        args += ["--ops", ",".join(ops), "--table-rows", ",".join(
            f"{t}={pq.read_metadata(os.path.join(tables, t + '.parquet')).num_rows}"
            for t in orc.TABLES)]
    elif a.workload == "etl_upsert":
        args += ["--batches", os.path.join(data, "batches"), "--nbatches", str(size["batches"]),
                 "--initial", os.path.join(data, "destination"),
                 "--incoming-rows", str(size["batches"] * size["rows"])]
    else:
        args += ["--chunks", os.path.join(data, "chunks")]

    steal_before, jvm_started = steal_s(), time.time()
    java(b["classpath"], args, os.path.join(work, "jvm.log"),
         max(30.0, DEADLINE_S - (time.time() - started)), work)
    steal_share = (steal_s() - steal_before) / ((time.time() - jvm_started) * os.cpu_count())
    with open(os.path.join(work, "harness.json")) as f:
        h = json.load(f)
    load_after = loadavg()
    checks = check(a.workload, h["verify"], data, sql)

    passes = h["passes"]
    warm = [p for p in passes if re.fullmatch(r"warm\d+", p["label"])]
    units = [u for p in passes for u in p["units"]]
    failed_units = sum(1 for u in units if u["s"] is None)
    wrong = sum(1 for ok in checks.values() if not ok)
    attempted = len(units) + len(checks)
    failed = failed_units + wrong

    per_unit = {}
    for p in warm:
        for u in p["units"]:
            if u["s"] is not None:
                per_unit.setdefault(u["name"], []).append(u["s"])
    wall = median([p["wall_s"] for p in warm])
    e2e = {
        "setup_s": median(h["setup_s"]),
        "cold_s": passes[0]["wall_s"],
        "wall_s": wall,
        "op_p50_s": median([median(v) for v in per_unit.values()]),
        "rows_per_s": median([p["input_rows"] / p["wall_s"] for p in warm]),
        "peak_rss_mb": h["peak_rss_mb"],
    }
    layers = h["layers"]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "smoke": a.smoke,
        "box": {"loadavg_before": load_before, "loadavg_after": load_after,
                "nproc": len(os.sched_getaffinity(0)), "cores_used": cores,
                "steal_share": steal_share,
                "loaded": load_before[0] > cores or steal_share > STEAL_LOADED, "jvm": h["jvm"],
                "commit": commit(root), "source_digest": b["stamp"]},
        "end_to_end": e2e, "error_rate": failed / attempted,
        "attempted": attempted, "failed": failed,
        "warm_passes": len(warm), "units_per_pass": len(passes[0]["units"]),
        "checks": checks, "failures": h["failures"], "layers": layers,
        "setup_samples_s": h["setup_s"], "passes": passes,
        "elapsed_s": time.time() - started,
    }
    with open(os.path.join(work, "run.json"), "w") as f:
        json.dump(record, f, indent=1)
    for sub in ("etl", "stream", "derby", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    prune(os.path.join(OUT, "runs"), keep=200)

    if record["box"]["loaded"]:
        log(f"box was loaded: 1-min load at start {load_before[0]} (N = {cores}), "
            f"{100 * steal_share:.1f} % of CPU time stolen by other guests")
    bad = [k for k, ok in checks.items() if not ok] + list(h["failures"])
    if bad:
        log("wrong or failed: " + ", ".join(sorted(set(bad))))
    print(f"# record: {os.path.join(work, 'run.json')}")
    print(f"# error_rate: {record['error_rate']} ({failed}/{attempted})")
    if a.trace:
        print("# layers: " + json.dumps(layers, sort_keys=True))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
