#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py [workload ...]

Every workload of run.py (also those not listed in BENCHMARK.json) runs at
the tiny size with a non-default seed, untraced and traced. Each run must be
correct and print every metric named in BENCHMARK.json (or, without it, in
run.py) with its unit. Then each
workload runs once with one result corrupted on purpose, and that run must
count the corruption as a failed operation instead of passing it.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout stays as git would have it

import run  # noqa: E402

SEED = 7


def expected():
    """({name: unit} untraced, {name: unit} traced)."""
    spec = os.path.join(os.getcwd(), "BENCHMARK.json")
    if os.path.isfile(spec):
        b = json.load(open(spec))
        return ({m["name"]: m["unit"] for m in b["end_to_end"]},
                {m["name"]: m["unit"] for m in b["per_layer"]})
    return run.END_TO_END, run.PER_LAYER


def bench(workload, trace, wrong=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if wrong:
        cmd.append("--inject-wrong")
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and lines, f"{cmd} exited {r.returncode}: {r.stderr[-3000:]}"
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out, lines


def main():
    e2e, layers = expected()
    only = sys.argv[1:] or sorted(run.SIZES["full"])
    for w in only:
        for trace, names in ((0, e2e), (1, layers)):
            out, lines = bench(w, trace)
            m = out["metrics"]
            assert set(m) == set(names), f"{w} trace={trace}: {sorted(set(m) ^ set(names))}"
            for k, unit in names.items():
                v = m[k]["value"]
                assert m[k]["unit"] == unit, f"{w}: {k} unit {m[k]['unit']} != {unit}"
                assert isinstance(v, (int, float)) and math.isfinite(v), f"{w}: {k} = {v}"
            assert out["correct"] and out["failed"] == 0, \
                f"{w} trace={trace} not correct: {[l for l in lines if 'error' in l]}"
            print(f"selftest: {w} trace={trace} ok ({len(m)} metrics)", flush=True)
        out, _ = bench(w, 0, wrong=True)
        assert out["failed"] > 0 and not out["correct"], f"{w}: corrupted result passed: {out}"
        print(f"selftest: {w} corrupted result counted "
              f"(error rate {out['failed'] / out['attempted']:.3f})", flush=True)
    print("selftest: ok")


if __name__ == "__main__":
    main()
