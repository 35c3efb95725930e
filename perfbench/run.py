"""Steady-state benchmark of the dfsql facade and the dedup ingest loop.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--smoke]

One run: build the program and the client (cached in .bench_build/),
generate the workload's inputs from the seed, compute the expected
answers with an independent engine, start one JVM running a single-
threaded closed-loop client (perfbench/src), warm up for a fixed number
of ops, measure for --seconds, check the outputs, and print one summary
line per metric followed by a final JSON line. --trace 1 runs the same
workload with spans and Spark listener metrics on every other round of
ops and reports per-layer medians instead of end-to-end metrics.
--smoke runs a few ops only (used by the self-tests).
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402
import pool  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
MAX_CORES = 4

# Warm-up is an op count, so every run sits at the same point of the JIT
# and heap curve. The timed window lasts --seconds and at least min_ops
# ops. tail_pct is the reported tail percentile: one with at least ten
# samples beyond it at min_ops, or the slowest op (100) where a window
# cannot hold eleven ops.
WORKLOADS = {
    "facade_select": {"warmup_ops": 128, "min_ops": 64, "tail_pct": 80},
    "catalog_churn": {"warmup_ops": 12, "min_ops": 10, "tail_pct": 100},
    "dedup_ingest": {"warmup_ops": 2, "min_ops": 3, "tail_pct": 100},
}
DEDUP_POOLS, DEDUP_SLOTS, CHURN_RING = 5, 2, 4

END_TO_END = [
    ("setup_s", "s"), ("throughput_ops_s", "1/s"), ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"), ("disk_mb", "MB"),
]
PER_LAYER = [
    ("catalog.query_ms", "ms"), ("catalog.self_ms", "ms"),
    ("catalog.cache_hit_ratio", "ratio"), ("catalog.cache_misses", "count"),
    ("sql.lower_us", "us"), ("sql.disambiguate_us", "us"),
    ("api.sqlquery_ms", "ms"), ("api.implicit_from_ms", "ms"),
    ("commands.tryparse_us", "us"), ("commands.ctas_ms", "ms"),
    ("commands.create_file_ms", "ms"), ("commands.drop_ms", "ms"),
    ("commands.show_ms", "ms"),
    ("catalyst.parse_ms", "ms"), ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimize_ms", "ms"), ("catalyst.plan_ms", "ms"),
    ("catalyst.rule_effective_ratio", "ratio"),
    ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
    ("operators.dedup_construct_ms", "ms"), ("operators.construct_jobs", "count"),
    ("operators.action_jobs", "count"), ("operators.append_ms", "ms"),
    ("operators.keep_ratio", "ratio"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.output_mb", "MB"), ("exec.task_skew", "ratio"),
    ("exec.driver_only_ms", "ms"),
    ("deliver.rows", "count"), ("deliver.ms", "ms"),
    ("jvm.jit_ms", "ms"), ("jvm.gc_ms", "ms"), ("jvm.heap_after_gc_mb", "MB"),
    ("storage.mem_peak_mb", "MB"),
    ("trace.overhead_ms", "ms"),
]
_FACADE = {"catalog.", "sql.", "commands.tryparse", "catalyst.", "codegen.", "deliver."}
# per-layer metrics a workload does not exercise report 0
IDLE = {
    "facade_select": {"commands.ctas_ms", "commands.create_file_ms", "commands.drop_ms",
                      "commands.show_ms", "operators."},
    # its tables are dropped by the end of the op, so no join-name probe
    "catalog_churn": {"api.", "operators.", "sql.disambiguate_us"},
    "dedup_ingest": _FACADE | {"api.", "commands."},
}
# C1 only, with low compile thresholds: the default tiered JIT keeps
# compiling Spark and Catalyst code for minutes (facade throughput still
# climbed after 1000 ops), longer than any run can wait. With C1 the
# facade loop is flat after ~70 ops.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:CompileThresholdScaling=0.05", "-XX:ReservedCodeCacheSize=256m"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def idle(workload, metric):
    return any(metric.startswith(p) for p in IDLE[workload])


def tail_percentile(values, pct):
    """Nearest-rank percentile and the count of samples strictly above it."""
    s = sorted(values)
    v = s[max(0, math.ceil(pct / 100 * len(s)) - 1)]
    return v, sum(1 for x in s if x > v)


def min_ops_for(pct):
    """Smallest sample count that leaves at least ten samples beyond the
    nearest-rank pct-th percentile."""
    n = 11
    while tail_percentile(range(n), pct)[1] < 10:
        n += 1
    return n


def prepare(workload, seed, work):
    """Generate inputs and expected answers; return the manifest."""
    data = os.path.join(work, "data")
    m = {"workload": workload, "seed": seed,
         "write_dir": os.path.join(work, "write"),
         "spark_dir": os.path.join(work, "spark"),
         "spans_path": os.path.join(work, "spans.jsonl")}
    if workload in ("facade_select", "catalog_churn"):
        datagen.write_sf001(seed, data)
        m["data_dir"] = data
    if workload == "facade_select":
        stmts = pool.facade_pool(seed, data)
        m["pool"] = stmts
        # rounds: each is a permutation of the whole pool, and the window
        # ends on a round boundary, so every window has the same mix
        rng = datagen.np.random.default_rng([seed, 6])
        m["order"] = [int(x) for _ in range(64) for x in rng.permutation(len(stmts))]
        m["round"] = len(stmts)
    elif workload == "catalog_churn":
        os.makedirs(os.path.join(work, "fixtures"))
        fixtures = []
        for k in range(CHURN_RING):
            rel = f"fixtures/fx_{k}.csv"
            datagen.write_csv_fixture(seed, k, os.path.join(work, rel))
            fixtures.append((f"fx_{k}", rel))
        plan = pool.churn_plan(seed, data, [(n, os.path.join(work, p)) for n, p in fixtures])
        for c, (_, rel) in zip(plan["csv"], fixtures):
            c["path"] = rel  # the JVM runs in `work`; paths stay free of spaces
        m.update(plan, ring=CHURN_RING)
    elif workload == "dedup_ingest":
        d = datagen.write_dedup_inputs(seed, data, pools=DEDUP_POOLS)
        m.update(base=d["base"], pools=d["pools"], slots=DEDUP_SLOTS,
                 threshold=0.5, max_df=100)
    return m


def summarize(workload, res, launch, trace, pct):
    ops = [o for o in res["ops"] if o["phase"] == "timed"]
    lat = [o["ms"] for o in ops]
    tail, beyond = tail_percentile(lat, pct)
    metrics = {}
    if trace:
        layers = res.get("layers", {})
        traced = [o["ms"] for o in ops if o["traced"]]
        plain = [o["ms"] for o in ops if not o["traced"]]
        layers["trace.overhead_ms"] = statistics.median(traced) - statistics.median(plain)
        for name, unit in PER_LAYER:
            if name not in layers:
                if not idle(workload, name):
                    raise SystemExit(f"perfbench: layer metric {name} missing on {workload}")
                layers[name] = 0.0
            metrics[name] = {"value": layers[name], "unit": unit}
    else:
        values = {
            "setup_s": res["first_timed_epoch_ms"] / 1000.0 - launch,
            "throughput_ops_s": len(ops) / res["window_s"],
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": tail,
            "disk_mb": res["disk_bytes"] / (1024.0 * 1024.0),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    return metrics, len(lat), beyond


def windows(res, n=5):
    """Per-window throughput, JIT and GC time over the timed ops."""
    ops = [o for o in res["ops"] if o["phase"] == "timed"]
    size = max(1, len(ops) // n)
    out = []
    for k in range(0, len(ops) - size + 1, size):
        w = ops[k:k + size]
        out.append((len(w) / (sum(o["ms"] for o in w) / 1000.0),
                    sum(o["jit_ms"] for o in w), sum(o["gc_ms"] for o in w)))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args(argv)
    cfg = WORKLOADS[a.workload]
    classes = build.build()
    jars = build.spark_jars()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    m = prepare(a.workload, a.seed, work)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    pct = cfg["tail_pct"]
    # warm-up and window cover whole rounds of the op order
    rnd = m.get("round", 1)
    min_ops = 3 if a.smoke else cfg["min_ops"]
    if a.trace:  # half the rounds are traced, half give the untraced baseline
        min_ops = 2 * max(min_ops, rnd)
    m.update(cores=cores, trace=bool(a.trace), min_ops=min_ops,
             warmup_ops=max(2, rnd) if a.smoke else cfg["warmup_ops"],
             seconds=0 if a.smoke else a.seconds)
    assert m["warmup_ops"] % rnd == 0
    manifest = os.path.join(work, "manifest.json")
    result = os.path.join(work, "result.json")
    with open(manifest, "w") as f:
        json.dump(m, f)
    tmp = os.path.join(work, "tmp")  # the JVM's temporary files stay in the checkout
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + [
        "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main", manifest, result]
    log = os.path.join(work, "jvm.log")
    launch = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=170)
            jvm_s = time.time() - launch
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(result):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        sys.exit(f"perfbench: JVM exited with {code}")
    with open(result) as f:
        res = json.load(f)
    metrics, n, beyond = summarize(a.workload, res, launch, a.trace, pct)
    attempted = len(res["ops"])
    failed = res["failed"]
    correct = failed == 0 and res["final_check_failures"] == 0
    for msg in res["failures"]:
        print(f"[perfbench] FAILED {msg}")
    print(f"[perfbench] {a.workload} seed={a.seed} local[{cores}] warmup_ops={m['warmup_ops']} "
          f"timed_ops={n} window_s={res['window_s']:.2f} tail=p{pct} ({beyond} samples beyond) "
          f"failed_ratio={failed / attempted:.4f} ({failed}/{attempted}) jvm_s={jvm_s:.1f}")
    if a.trace:
        for k, (tp, jit, gc) in enumerate(windows(res)):
            print(f"[perfbench] window {k}: {tp:.3f} ops/s jvm.jit_ms={jit} jvm.gc_ms={gc}")
    for name, v in metrics.items():
        print(f"[perfbench] {name} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
