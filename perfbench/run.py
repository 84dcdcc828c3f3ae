#!/usr/bin/env python3
"""The repo benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload paper_e2e --seed 1 --seconds 10 --trace 0

It compiles the program (`src/main/scala`) and the harness (`perfbench/src`)
into the build directory ($CARGO_TARGET_DIR, else `.bench_build`), makes the
workload's inputs from the seed, runs the harness in one JVM with its own
temp, Spark local and warehouse directories, and prints one JSON object as
the last line of stdout.  With `--trace 0` it carries the end-to-end metrics
of BENCHMARK.json; with `--trace 1` the per-layer ones.  A line before it
carries every detail the harness measured.  Exit code 0 means every op ran
and passed its output check; 1 means some op failed (the result line names
them); anything else means the benchmark itself could not run.

See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import retail_gen  # noqa: E402

# A byte-for-byte copy of the repo's sf0.01 testdata, so a run reads nothing
# outside its checkout; fingerprints.tsv was recorded on it.
DATA = os.path.join(HERE, "data", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.tsv")

# The candidate lanes: the contract's short batch lanes (table reads, frame
# build, Catalyst, job overhead) and its Structured-Streaming lanes.  Lanes
# whose timed op is a session-memo hit are not candidates.  fingerprints.tsv
# covers all of them, so any can be surveyed with --lanes.
LIGHT_POOL = [
    "q01_clean_filter", "q02_derive_amount", "q03_date_days", "q04_rfm",
    "q09_histogram", "q11_window_rank", "q13_semi_anti_join", "q14_set_union",
    "q15_set_intersect", "q16_set_except", "q18_rollup", "q86_cube_revenue",
    "q90_pipeline_e2e", "q96_grouping_sets", "q59_funnel", "q60_events_hourly",
    "q61_events_sessionize", "q63_events_daily_top", "q65_asof_join",
    "q66_range_join", "q67_session_window", "q68_json_extract", "q69_pivot",
    "q110_asof_native", "q43_lang_id", "q46_edit_distance", "q55_chunking",
    "q56_repetition", "q77_pii_redact", "q78_quality_gates", "q88_vocab_encode",
    "q92_tfidf", "q107_boilerplate", "q135_repeated_spans", "q238_span_scrub",
    "q49_mixture_rebalance", "q87_domain_cap", "q102_weighted_sample",
    "q112_stratified_sample", "q125_temperature_mix", "q138_global_shuffle",
    "q19_approx_distinct", "q85_hll_sketches", "q97_cms_heavy_hitters",
    "q123_benford", "q183_moving_avg"]
STREAM_POOL = [
    "q286_stream_full_outer_join", "q137_stream_outer_join",
    "q83_stream_interval_join", "q146_stream_session_window",
    "q106_stream_dedup", "q208_stream_quantile", "q64_stream_hourly",
    "q297_watermark_curve"]

# The lanes of lanes_mix, chosen from the pools by a traced survey of all of
# them (README.md, "Choosing the lanes").
LIGHT = ["q135_repeated_spans", "q55_chunking", "q77_pii_redact",
         "q110_asof_native", "q125_temperature_mix", "q67_session_window",
         "q138_global_shuffle", "q92_tfidf"]
STREAM = ["q83_stream_interval_join"]
WORKLOADS = {
    "paper_e2e": None,
    "lanes_mix": LIGHT + STREAM,
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail(f"no Spark jars at '{jars}': set SPARK_HOME")
    return os.path.join(jars, "*")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(out, classpath, files, tmp):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")


def digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compiled(build_dir, name, classpath, files):
    """Classes of `files`, compiled once per distinct source set."""
    out = os.path.join(build_dir, f"{name}-{digest(files, os.pathsep.join(classpath))}")
    if os.path.exists(out + ".ok"):
        return out
    tmp = os.path.join(build_dir, "tmp")
    for d in (out, tmp):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    scalac(out, os.pathsep.join(classpath + [spark_jars()]), files, tmp)
    open(out + ".ok", "w").close()
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"[perfbench] compiled {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def build(build_dir):
    """Compile the program, then the harness against it."""
    program = sources("src/main/scala")
    if not program:
        fail("no program sources under src/main/scala: run from the repo root")
    prog = compiled(build_dir, "program", [], program)
    return [compiled(build_dir, "harness", [prog], sources(os.path.join(HERE, "src"))),
            prog]


def run_jvm(classes, run_dir, main, *args):
    # 3g, not build.sbt's 16g default: the heap stays well inside a small
    # shared machine's memory (see README.md, "Load shape")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            # the JDK's font cache lands under user.home
            f"-Duser.home={run_dir}"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classes + [spark_jars()]),
              main] + list(args))
    # the JVM's stdout is chatter (chart paths, Spark); ours stays clean
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("throw", "wrong"),
                    help="add an op that throws or returns a wrong output "
                         "(self-test of the failure accounting)")
    ap.add_argument("--lanes", metavar="LANE,...",
                    help="lane workloads: run these contract lanes instead of "
                         "the workload's own (a survey; each needs a fingerprint)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repo root: no src/main/scala here")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(build_dir)

    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    trace_dir = os.path.join(build_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    props = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": os.cpu_count(), "run_dir": run_dir,
        "data": DATA, "fingerprints": FINGERPRINTS,
        "result": os.path.join(run_dir, "result.json"),
        "trace_out": os.path.join(
            trace_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
    }
    if args.inject:
        props["inject"] = args.inject
    details = {}
    try:
        if args.workload == "paper_e2e":
            t0 = time.time()
            truth = retail_gen.generate(os.path.join(run_dir, "retail.csv"), args.seed)
            details["gen_s"] = time.time() - t0
            details["input"] = truth
            props["csv"] = os.path.join(run_dir, "retail.csv")
            props.update({f"truth.{k}": repr(v) for k, v in truth.items()})
        else:
            props["lanes"] = args.lanes or ",".join(WORKLOADS[args.workload])
        props_file = os.path.join(run_dir, "run.properties")
        with open(props_file, "w") as f:
            for k, v in props.items():
                f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
        code = run_jvm(classes, run_dir, "perfbench.Main", props_file)
        try:
            with open(props["result"]) as f:
                result = json.load(f)
        except OSError:
            fail(f"harness exited {code} without a result", 3)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in declared[section]:
        v = result[section].get(m["name"])
        if v is not None:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        elif result["correct"]:
            fail(f"harness did not measure {m['name']}", 3)
    details.update(result)
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
