#!/usr/bin/env python3
"""Rewrite perfbench/fingerprints.tsv from verified lane outputs.

    python3 perfbench/fingerprint.py OUT     # from the repo root

OUT is a `graft.Verify` run over every candidate lane (run.LIGHT_POOL and
run.STREAM_POOL) on perfbench/data/sf0.01, whose outputs
`.claude/skills/verify/check.py` reported OK.  Each lane's fingerprint is
that of OUT/<lane> as read back from parquet; a normal checked run of the
benchmark then confirms the harness reproduces it.
"""

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        run.fail("usage: fingerprint.py VERIFY_OUT_DIR")
    verify = os.path.abspath(sys.argv[1])
    lanes = run.LIGHT_POOL + run.STREAM_POOL
    missing = [n for n in lanes if not os.path.isdir(os.path.join(verify, n))]
    if missing:
        run.fail(f"no verified output for {missing}")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = run.build(build_dir)
    run_dir = os.path.join(build_dir, "runs", f"fingerprint-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        code = run.run_jvm(classes, run_dir, "perfbench.Fingerprint", verify,
                           run.FINGERPRINTS, run_dir, ",".join(lanes))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        run.fail(f"fingerprinting exited {code}")
    print(f"wrote {len(lanes)} fingerprints to {run.FINGERPRINTS}")


if __name__ == "__main__":
    main()
