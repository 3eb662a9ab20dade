#!/usr/bin/env python3
"""Self-test of the benchmark at toy sizes: every workload, untraced and
traced, must exit 0, pass every correctness check, and print exactly the
metrics BENCHMARK.json declares, with their units, as finite numbers.

    python3 searchbench/selftest.py

Run from the repository root; takes a few minutes (JVM and Spark start-up
dominate at toy sizes).
"""
import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace), "--toy"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return p.returncode, p.stdout, p.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            code, out, err = run(w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            before = len(problems)
            if code != 0:
                problems.append(f"{tag}: exit {code}: {err[-2000:]}")
                continue
            res = json.loads(out.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: checks failed ({res['failed']} of {res['attempted']})")
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metric names/units differ: missing "
                                f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                                f"unit mismatches {sorted(k for k in want if k in got and got[k] != want[k])}")
            nonfinite = [k for k, v in res["metrics"].items()
                         if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
            if nonfinite:
                problems.append(f"{tag}: non-finite values {nonfinite}")
            if trace == 0:
                zero = [m["name"] for m in declared if res["metrics"].get(m["name"], {}).get("value") == 0]
                if zero:
                    problems.append(f"{tag}: end-to-end metrics read 0: {zero}")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAIL'} "
                  f"({res['attempted']} checks, {len(res['metrics'])} metrics)")
    for p in problems:
        print("FAIL", p)
    print("selftest", "PASS" if not problems else "FAIL")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
