#!/usr/bin/env python3
"""Traced survey of every candidate lane, to choose and justify lanes_mix.

    python3 perfbench/survey.py [--seed 1]     # from the repo root, ~10 minutes

Runs every lane of run.LIGHT_POOL and run.STREAM_POOL under `--trace 1`, in
chunks small enough for one run each, and prints:

- per lane: traced op time, build share, jobs and eager build jobs per op,
  Catalyst share;
- the same shares for each whole pool beside those of the lanes lanes_mix
  keeps from it;
- the lanes the selection rule picks (README.md, "Choosing the lanes").

Every op is output-checked as in a normal run; a failed run stops the survey.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

CHUNK = 12
# the light lanes lanes_mix keeps besides the staged-layout lane
PICKS = 7
STAGED = "q135_repeated_spans"


def survey(lanes, seed):
    per_op = {}
    for i in range(0, len(lanes), CHUNK):
        chunk = lanes[i:i + CHUNK]
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "lanes_mix",
                            "--seed", str(seed), "--seconds", "1", "--trace", "1",
                            "--lanes", ",".join(chunk)],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            run.fail(f"survey run of {chunk} exited {p.returncode}: {lines[-1:] or 'no result'}")
        per_op.update(json.loads(lines[-2])["details"]["per_op"])
        print(f"[survey] {i + len(chunk)}/{len(lanes)} lanes", file=sys.stderr)
    return per_op


def shares(per_op, lanes):
    ops = [per_op[n] for n in lanes]
    op_s = sum(o["op_s"] for o in ops)
    return {"lanes": len(ops),
            "build_share": sum(o["build_s"] for o in ops) / op_s,
            "jobs_per_op": statistics.mean(o["jobs"] for o in ops),
            "build_jobs_per_op": statistics.mean(o["build_jobs"] for o in ops),
            "catalyst_share": sum(o["catalyst_s"] for o in ops) / op_s,
            "op_p50_s": statistics.median(o["op_s"] for o in ops)}


def stratified(per_op, lanes, k, fixed=()):
    """`fixed`, plus one lane from the middle of each of k equal strata of
    the others ordered by traced op time."""
    rest = sorted((n for n in lanes if n not in fixed), key=lambda n: per_op[n]["op_s"])
    return list(fixed) + [rest[int((i + 0.5) * len(rest) / k)] for i in range(k)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    per_op = survey(run.LIGHT_POOL + run.STREAM_POOL, args.seed)
    print("lane\top_s\tbuild_share\tjobs\tbuild_jobs\tcatalyst_share")
    for n in sorted(per_op, key=lambda n: per_op[n]["op_s"]):
        o = per_op[n]
        print(f"{n}\t{o['op_s']:.3f}\t{o['build_s'] / o['op_s']:.2f}\t{o['jobs']:.0f}\t"
              f"{o['build_jobs']:.0f}\t{o['catalyst_s'] / o['op_s']:.2f}")
    kept = run.WORKLOADS["lanes_mix"]
    rows = {"light pool": run.LIGHT_POOL,
            "lanes_mix light": [n for n in kept if n in run.LIGHT_POOL],
            "stream pool": run.STREAM_POOL,
            "lanes_mix stream": [n for n in kept if n in run.STREAM_POOL]}
    for name, lanes in rows.items():
        print(json.dumps({"set": name, **{k: round(v, 4) for k, v in shares(per_op, lanes).items()}}))
    print(json.dumps({"rule_light": stratified(per_op, run.LIGHT_POOL, PICKS, (STAGED,)),
                      "rule_stream": stratified(per_op, run.STREAM_POOL, 1)}))


if __name__ == "__main__":
    main()
