#!/usr/bin/env python3
"""The graft benchmark: one seeded workload per run, in JVMs of its own.

    python3 perfbench/run.py --workload <suite|pages|lineage|corpus>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine and the benchmark are compiled
from source on first use (perfbench/build.py). The inputs are generated
from the seed (perfbench/gen.py); the engine only sees that directory. The
last line of stdout is one JSON object: `correct`, `attempted`, `failed`
and `metrics` — the end-to-end metrics untraced, the per-layer metrics when
traced. perfbench/README.md describes the workloads and every metric.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout stays as git would have it

import build  # noqa: E402

CORES = 4

# JVMs per untraced run; every end-to-end metric is the median over them.
# The same code and seed ran up to a tenth faster or slower from one JVM to
# the next while staying within 1-2 % over a minute inside one JVM, so a run
# that spans several JVMs varies less. A suite JVM spends 30 s in its cold
# warm-up pass, so the suite runs one.
FORKS = {"suite": 1, "pages": 3, "lineage": 3, "corpus": 2}

# Input sizes per workload ("full" is what the benchmark measures; "tiny"
# is for the self-test).
SIZES = {
    "full": {
        "suite": dict(sf=0.001, events=1000, users=15, docs=500, vecs=500),
        "pages": dict(sf=0.001, events=6250, repl=16, files=8, users=150, docs=100, vecs=100),
        "lineage": dict(sf=0.001, events=12000, files=8, users=150, days=4, docs=100, vecs=100),
        "corpus": dict(sf=0.001, events=1000, users=15, docs=800, doc_copies=1600,
                       vecs=500, vec_copies=1000, mutate=0.1),
    },
    "tiny": {
        "suite": dict(sf=0.001, events=1000, users=15, docs=500, vecs=500),
        "pages": dict(sf=0.001, events=2000, repl=2, files=4, users=15, docs=50, vecs=50),
        "lineage": dict(sf=0.001, events=3000, files=4, users=15, days=4, docs=50, vecs=50),
        "corpus": dict(sf=0.001, events=1000, users=15, docs=200, doc_copies=200,
                       vecs=200, vec_copies=200, mutate=0.1),
    },
}

# At corpus size the DuckDB twins of doc_minhash, doc_jaccard and emb_lsh
# (XXH64 written in SQL) take minutes; there those queries get the invariant
# checks, and their twins are checked on every suite run.
CORPUS_TWINS = {"doc_dedup_minhash", "emb_dedup", "emb_pq_adc", "emb_sim"}

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "items_per_s": "1/s"}
KERNELS = ["extract_text", "geocode_regex", "s2_cell", "haversine", "media_inflate",
           "minhash_sig", "shingle", "dot"]
PER_LAYER = {
    "build_s": "s", "build_jobs": "count", "plan_s": "s", "exec_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "task_busy_s": "s",
    "core_util": "ratio", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "peak_exec_mem_mb": "MB", "gc_s": "s", "task_failures": "count",
    **{f"kernel.{k}_rows_per_s": "rows/s" for k in KERNELS},
    "probe.pipeline_s_1core": "s", "probe.scaling_eff_1to4": "ratio", "host.control_eff_1to4": "ratio",
    "host.steal_pct": "%", "host.idle_pct": "%", "host.loadavg_before": "load",
    "host.heap_gb": "GB", "host.cores": "count", "trace.overhead_pct": "%",
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap():
    """JVM heap size from MemTotal, as the repo's tier-1 command sizes it:
    half of RAM, between 2 and 8 GB. It is pinned (-Xms = -Xmx, as build.sbt
    does): a heap that grows during the run kept the pages passes getting
    faster for over 30 s, so the timed passes sat on that slope."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def items_arg(workload, counts):
    if workload == "pages":
        return str(counts["events"])
    if workload == "corpus":
        return f"{counts['documents']},{counts['embeddings']}"
    return "0"


def fork(args, cp, data, work, seconds, trace, counts, mem):
    """One workload JVM over the generated inputs in `data`, then the DuckDB
    checks of its results. Returns its result with `failed` updated."""
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", cp, "perfbench.Main", args.workload, data, work, result_file,
              str(seconds), str(trace), str(args.seed), str(CORES),
              items_arg(args.workload, counts), "1" if args.inject_wrong else "0"])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=172).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.isfile(result_file):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        raise SystemExit(f"perfbench: workload JVM failed ({rc})")
    res = json.load(open(result_file))

    t0 = time.perf_counter()
    if res["oracle"]:
        import oracle
        twins = CORPUS_TWINS if args.workload == "corpus" else None
        wrong = oracle.check(data, res["oracle"], os.path.join(work, "results", "oracle_sql.json"),
                             twins=twins)
        for name, why in wrong.items():
            res["errors"].append(f"{name}: {why}")
            res["failed"] += res["ops_per_name"].get(name, 0)
    res["failed"] = min(res["failed"], res["attempted"])
    res["stamps"]["check_s"] = time.perf_counter() - t0
    return res


def run(args):
    cp = build.build()
    base = build.out_dir()
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(data)
    try:
        import gen
        sizes = SIZES[args.size][args.workload]
        t0 = time.perf_counter()
        counts = gen.generate(data, args.seed, sizes)
        gen_s = time.perf_counter() - t0
        if args.workload == "pages" and counts["events"] != sizes["events"] * sizes["repl"]:
            raise SystemExit("perfbench: generator produced the wrong page count")

        # A traced run takes its per-layer numbers from one JVM.
        n = 1 if args.trace else FORKS[args.workload]
        mem = heap()
        forks = [fork(args, cp, data, os.path.join(work, f"fork-{i}"), args.seconds / n, args.trace, counts, mem)
                 for i in range(n)]
        attempted = sum(r["attempted"] for r in forks)
        failed = sum(r["failed"] for r in forks)
        e2e = {k: statistics.median(r["e2e"][k] for r in forks) for k in END_TO_END}
        e2e["setup_s"] += gen_s
        res = forks[-1]
        stamps = dict(res["stamps"], gen_s=gen_s, heap=mem, seed=args.seed, workload=args.workload,
                      error_rate=failed / attempted, forks=n,
                      fork_e2e=[r["e2e"] for r in forks], pass_walls_s=[r["pass_walls_s"] for r in forks])
        print("perfbench stamps " + json.dumps(stamps, sort_keys=True))
        for r in forks:
            for e in r["errors"]:
                print("perfbench error " + json.dumps(e))
        if args.trace:
            print("perfbench detail " + json.dumps(res["detail"], sort_keys=True))
            keep = os.path.join(base, "last-trace")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("trace.json", "result.json"):
                if os.path.isfile(os.path.join(work, "fork-0", f)):
                    shutil.copy(os.path.join(work, "fork-0", f), keep)
        src, units = (res["per_layer"], PER_LAYER) if args.trace else (e2e, END_TO_END)
        missing = [k for k in units if src.get(k) is None]
        if missing:
            raise SystemExit(f"perfbench: metrics not measured: {missing}")
        metrics = {k: {"value": src[k], "unit": u} for k, u in units.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    p.add_argument("--inject-wrong", action="store_true",
                   help="corrupt one result on purpose (self-test of the checks)")
    run(p.parse_args())


if __name__ == "__main__":
    main()
