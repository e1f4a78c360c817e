#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one workload, one run.

    python3 e2ebench/run.py --workload mr_wordcount --seed 1 --seconds 8 --trace 0

Run from the repository root.  Builds the program with its benchmark
harness (sbt, first run only), generates the workload's inputs from the
seed (cached per seed, never timed), then runs one JVM at local[nproc]:
set-up, a closed loop of checked ops for --seconds, and with --trace 1
the per-layer metrics.  The last stdout line is the result JSON; the
line before it is the run's environment record.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import pandas as pd  # noqa: E402

STATE = os.path.join(ROOT, ".bench_build", "e2ebench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents"]

# Sampled queries, one per query family, over the generated TPC-H-shaped
# tables and documents.  The seed sets their order.
BATTERY = ["q98_tpch_q6", "k_anonymity", "q49_udf_ntokens"]
# The curation pipeline, as its declared query.
CURATE = ["curate_corpus"]

# Input sizes and the queries an op runs; warm-up ops run in set-up; a
# run measures for --seconds and at least min_ops ops.  BENCHMARK.json
# lists the workloads the regression gate runs; battery_sample and curate
# are run by `report.py layers`: their many short jobs make op time swing
# with host CPU steal far more than the MapReduce jobs do.
WORKLOADS = {
    # op time falls by half over the first ~10 ops as the JIT settles
    "mr_wordcount": dict(mb=4, warmup=8, min_ops=5),
    # sized for about 50x the sink lines of mr_wordcount's distinct words
    "mr_identity": dict(mb=64, warmup=3, min_ops=5),
    "battery_sample": dict(lineitems=60000, doc_copies=2, docs_per_copy=250,
                           queries=BATTERY, warmup=5, min_ops=5),
    "curate": dict(lineitems=60000, doc_copies=4, docs_per_copy=250,
                   queries=CURATE, warmup=3, min_ops=3),
}
END_TO_END = ["op_s_p50", "cpu_s_per_op", "setup_s", "retained_heap_mb"]
PER_LAYER = (
    ["mr.map." + k for k in ("task_ms", "cpu_ms", "gc_ms", "task_ms_max", "records_in",
                             "input_mb", "emits", "shuffle_write_mb", "shuffle_write_ms")]
    + ["mr.reduce." + k for k in ("task_ms", "cpu_ms", "gc_ms", "task_ms_max",
                                  "shuffle_read_mb", "fetch_wait_ms", "spill_mb")]
    + ["mr.sink_ms", "mr.sink.lines", "mr.sink.mb", "mr.sink.files", "mr.spec_parse_ms"]
    + ["curate." + k for k in ("docs_in", "docs_out", "cached_mb", "langid_ms",
                               "minhash_ms", "shuffle_mb")]
    + [f"queries.{q}.ms" for q in BATTERY + CURATE] + ["queries.plan_ms", "queries.exec_ms"]
    + ["plan.ms", "plan.aqe_replans", "plan.exchanges"]
    + ["sched.jobs", "sched.stages", "sched.tasks", "sched.delay_ms", "sched.core_busy_frac"]
    + ["exec.cpu_ms", "exec.gc_ms", "jvm.gc_ms", "jvm.jit_ms"]
    + ["shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "spill.mb"]
    + ["trace.op_s_p50", "trace.untraced_op_s_p50", "trace.overhead_pct"])
UNITS = (("ms", "ms"), ("mb", "MB"), ("pct", "%"), ("frac", "ratio"), ("s", "s"))


def unit_of(name):
    parts = set(re.split(r"[._]", name))
    return next((u for k, u in UNITS if k in parts), "count")


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or when this process is told to stop, and always wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout:.0f}s: {cmd[0]}")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out, err


# ------------------------------------------------------------- build ---

def sources():
    return (glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
            + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
            + [os.path.join(HERE, "build.sbt")])


def build():
    """Compile the program and the harness with sbt when a source is
    newer than the last successful build."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    if not shutil.which("sbt"):
        fail("sbt not found")
    stamp = os.path.join(STATE, "build.stamp")
    srcs = sources()
    if os.path.exists(stamp) and os.path.isdir(CLASSES) and \
            os.path.getmtime(stamp) >= max(map(os.path.getmtime, srcs)):
        return
    os.makedirs(STATE, exist_ok=True)
    rc, out, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             840, cwd=HERE, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(str(time.time()))


def source_digest():
    h = hashlib.sha1()
    for p in sorted(sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------ inputs ---

def inputs(workload, seed, cores):
    """Generate (once per seed) the workload's inputs and meta file."""
    cfg = WORKLOADS[workload]
    sizes = {k: v for k, v in cfg.items() if k not in ("warmup", "min_ops")}
    key = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    d = os.path.join(STATE, "inputs", f"{workload}-s{seed}-{key}")
    meta_path = os.path.join(d, "meta.properties")
    if os.path.exists(meta_path):
        return d, meta_path
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = {"workload": workload}
    if workload.startswith("mr_"):
        if workload == "mr_wordcount":
            g = gen.gen_wordcount(d, seed, cfg["mb"])
            meta.update(job="wordcount", tally=os.path.join(d, "tally.tsv"))
        else:
            g = gen.gen_identity(d, seed, cfg["mb"])
            meta.update(job="identity", lines=g["lines"], multiset_hash=g["multiset_hash"])
        # split the scan into 2 tasks per core
        meta.update(inputs=",".join(g["inputs"]), r=8,
                    map_kb=max(1, -(-g["input_bytes"] // (2 * cores * 1024))))
    else:
        tables = os.path.join(d, "tables")
        gen.gen_tables(tables, seed, cfg["lineitems"])
        g = gen.gen_documents(os.path.join(tables, "documents.parquet"), seed,
                              cfg["doc_copies"], cfg["docs_per_copy"], files=cores)
        order = list(cfg["queries"])
        random.Random(seed).shuffle(order)
        meta.update(tables=tables, queries=",".join(order), doc_copies=g["groups"],
                    docs_per_copy=g["docs_per_group"], docs_in=g["docs"])
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        for k, v in sorted(meta.items()):
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    os.replace(tmp, meta_path)
    return d, meta_path


def read_meta(path):
    with open(path) as f:
        return dict(line.rstrip("\n").split("=", 1) for line in f if "=" in line)


# ------------------------------------------------------------ oracle ---

def oracle_failures(workload, meta, res, in_dir):
    """Compare the run's reference results with the DuckDB oracle; return
    the reasons for any mismatch (each fails every op of the run)."""
    cache = os.path.join(in_dir, "oracle.json")
    expected = json.load(open(cache)) if os.path.exists(cache) else {}
    bad = [f"{res['warmup_failures']} warm-up ops differ from the reference"] \
        if res["warmup_failures"] else []
    if "queries" not in WORKLOADS[workload]:
        return bad
    sql = res["reference"]["sql"]
    for q in WORKLOADS[workload]["queries"]:
        got = res["reference"]["rows"][q]
        mine = pd.DataFrame(got["rows"], columns=got["columns"])
        if q == "curate_corpus":
            # The documents are `copies` copies of one seeded set, each
            # with its own content-word namespace, so every copy curates
            # alike: the oracle runs on copy 0 (its pair join is
            # quadratic) and scales by the copy count.
            if q not in expected:
                per, copies = int(meta["docs_per_copy"]), int(meta["doc_copies"])
                one = oracle.connect(meta["tables"], ["documents"],
                                     {"documents": f"doc_id < {per}"})
                expected[q] = [v * copies for v in one.execute(sql[q]).fetchone()]
            ref = pd.DataFrame([expected[q]], columns=["n_raw", "n_kept", "total_tokens"])
        else:
            ref = oracle.connect(meta["tables"], TABLES).execute(sql[q]).df()
        why = oracle.diff(mine, ref)
        if why:
            bad.append(f"{q}: {why}")
    with open(cache, "w") as f:
        json.dump(expected, f)
    return bad


# --------------------------------------------------------------- run ---

def median(xs):
    s = sorted(xs)
    n = len(s)
    return 0.0 if n == 0 else (s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2)


def calibrate():
    """Seconds for a fixed single-threaded integer loop."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def java_cmd(work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME with a jars/ directory is required")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
                  "e2ebench.Main"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load = os.getloadavg()[0]
    build()
    t_start = time.time()
    cores = os.cpu_count() or 1
    env = {"commit": None, "source_digest": source_digest(), "nproc": cores,
           "loadavg_start": load, "calibration_s": calibrate()}
    try:
        env["commit"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                       capture_output=True).stdout.strip() or None
    except OSError:
        pass
    in_dir, meta_path = inputs(args.workload, args.seed, cores)
    meta = read_meta(meta_path)
    cfg = WORKLOADS[args.workload]

    work = os.path.join(STATE, "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    try:
        cpu0 = cpu_times()
        with open(log, "w") as lf:
            budget = 170 - (time.time() - t_start)
            rc, _, _ = run_bounded(java_cmd(work) + [
                meta_path, work, str(args.seconds), str(args.trace), str(cores),
                str(cfg["warmup"]), str(cfg["min_ops"]), result], budget, cwd=ROOT, stdout=lf, stderr=lf)
        cpu1 = cpu_times()
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            env["steal_frac"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        env["loadavg_end"] = os.getloadavg()[0]
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(open(log).read()[-3000:])
            fail(f"benchmark JVM exited with {rc}")
        res = json.load(open(result))
        bad = oracle_failures(args.workload, meta, res, in_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    errors = [o["error"] for o in ops if o["error"]]
    for e in errors[:5] + bad:
        print(f"e2ebench: check failed: {e}", file=sys.stderr)
    failed = len(ops) if bad else len(errors)
    env.update(java=res["java_version"], spark=res["spark_version"])

    if args.trace:
        layers = dict(res["layers"])
        layers["jvm.jit_ms"] = res["jit_setup_ms"]
        if "queries" in cfg:
            layers["queries.plan_ms"] = layers.get("plan.ms", 0.0)
            layers["queries.exec_ms"] = layers.get("plan.exec_ms", 0.0)
        un = layers.get("trace.untraced_op_s_p50", 0.0)
        layers["trace.overhead_pct"] = (layers.get("trace.op_s_p50", 0.0) / un - 1) * 100 if un else 0.0
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {
            "op_s_p50": {"value": median([o["wall_s"] for o in ops]), "unit": "s"},
            "cpu_s_per_op": {"value": median([o["cpu_s"] for o in ops]), "unit": "s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "retained_heap_mb": {"value": res["retained_heap_mb"], "unit": "MB"},
        }
    print(json.dumps({"env": env, "workload": args.workload, "seed": args.seed,
                      "ops": len(ops), "failed_op_frac": failed / len(ops),
                      "setup_s": res["setup_s"], "session_s": res["session_s"],
                      "warmup_s": [round(x, 4) for x in res["warmup_s"]],
                      "op_wall_s": [round(o["wall_s"], 4) for o in ops]}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
