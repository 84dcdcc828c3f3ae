#!/usr/bin/env python3
"""Self-test of the benchmark's input generator and failure accounting.

    python3 perfbench/selftest.py          # from the repo root, ~5 minutes

1. The retail generator is deterministic: one seed gives a byte-identical
   file, another seed a different one, and the ground truth has the
   reference's shape.
2. On each workload, a run with an injected op that throws and a run with
   an injected op whose output is wrong both turn red: exit code 1,
   `correct` false, every injected op counted in `failed` and named in the
   failures, and no injected op contributing a time.
"""

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import retail_gen  # noqa: E402
import run  # noqa: E402


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)
    print(f"ok: {msg}")


def generator():
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=build) as d:
        a = retail_gen.generate(os.path.join(d, "a.csv"), 5)
        b = retail_gen.generate(os.path.join(d, "b.csv"), 5)
        c = retail_gen.generate(os.path.join(d, "c.csv"), 6)
        with open(os.path.join(d, "a.csv"), "rb") as fa, open(os.path.join(d, "b.csv"), "rb") as fb:
            check(fa.read() == fb.read(), "same seed gives a byte-identical CSV")
        check(a == b, "same seed gives the same ground truth")
        check(a["sha256"] != c["sha256"], "another seed gives another CSV")
        check(a["rows"] == retail_gen.ROWS, f"{retail_gen.ROWS} rows")
        check(4200 <= a["customers"] <= 4372, f"about 4,338 valid customers ({a['customers']})")
        check(a["sum_monetary"] * 4 == int(a["sum_monetary"] * 4), "monetary sum is a multiple of 0.25")


def injected(workload, kind, timed_per_pass):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", "0", "--inject", kind],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    check(len(lines) >= 2, f"{workload}/{kind}: printed a result")
    details = json.loads(lines[-2])["details"]
    result = json.loads(lines[-1])
    name = "inject_" + kind
    failures = details["failures"]
    check(p.returncode == 1, f"{workload}/{kind}: exit code 1 (got {p.returncode})")
    check(result["correct"] is False, f"{workload}/{kind}: correct is false")
    check(result["failed"] >= 1 and result["failed"] == len(failures),
          f"{workload}/{kind}: {result['failed']} failed ops counted")
    check(all(f["op"] == name for f in failures), f"{workload}/{kind}: only {name} failed")
    check(details["timed_ops"] == timed_per_pass * details["timed_passes"],
          f"{workload}/{kind}: the failed op recorded no time")


def main():
    generator()
    # a pipeline run with a failed stage is a failed operation; every other
    # lane op still counts
    per_pass = {"paper_e2e": 0, "lanes_mix": len(run.WORKLOADS["lanes_mix"])}
    for workload, n in per_pass.items():
        for kind in ("throw", "wrong"):
            injected(workload, kind, n)
    print("selftest passed")


if __name__ == "__main__":
    main()
