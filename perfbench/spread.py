#!/usr/bin/env python3
"""Run a workload once per seed and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median) across the runs.

    python3 perfbench/spread.py --workload query_warm --seeds 1-10 [--seconds 12]

Run from the root of a checkout; --seconds defaults to BENCHMARK.json's
run_seconds. Exits 1 if any run fails or any spread other than
setup_s's exceeds its metric's bound; a spread above a third of the
bound is flagged but passes.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    values, ok = {}, True
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        last = json.loads(r.stdout.strip().splitlines()[-1])
        ok &= r.returncode == 0 and last["correct"]
        print(f"seed {s}: rc {r.returncode}, {time.time() - t0:.1f} s wall, " + ", ".join(
            f"{k} {v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        sp = stats.quartile_spread(v)
        gated = m["name"] != "setup_s"
        over = gated and sp > m["bound"]
        flag = "  > bound" if over else "  > bound/3" if gated and sp > m["bound"] / 3 else ""
        ok &= not over
        print(f"{m['name']:>14}: median {stats.median(v):.4g} {m['unit']}, "
              f"spread {sp:.3f} (bound {m['bound']}){flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
