#!/usr/bin/env python3
"""Benchmark of the graft CDC engine: replay, live tail and reporting queries.

Run from the repository root:

    python3 perfbench/run.py --workload ingest|queries --seed N \
        --seconds S --trace 0|1

The first run builds the repository's sbt project plus the benchmark classes
(perfbench/build.sbt) into the usual sbt target directories and caches the
classpath under .bench_build/. Every run then starts one JVM on
local[nproc], which writes its inputs from the seed under
.bench_build/work-<pid>/, measures, checks every output and prints one
result line. The last line of standard output is the JSON result; with
--trace 0 it carries the end-to-end metrics, with --trace 1 the per-layer
metrics. Exit status is 0 only when every correctness gate passed.

Extra flags for the self-tests (perfbench/selftest.py): --toy runs tiny
inputs, --expected FILE replaces the recorded query digests, --fault
drop-event removes one binlog event after the oracle has read it, --record
prints digests without checking them (used to record expected_queries.json).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

LEAVES = [
    "q_lww_latest", "q_cdc_merge", "q1_agg", "q_join_dims", "q_topk_window",
    "q_dedup_exact", "q_minhash_pairs", "q_simhash", "q_ngram_jaccard",
    "q_ann_topk", "q_ann_lsh", "q_token_count", "q_fingerprint",
    "q_content_hash", "q_cdc_replay", "q_report_adoption"]

# a run must end within 180 s; the JVM gets what is left after start-up
JVM_TIMEOUT_S = 170

# the queries workload's inputs come in this many recorded variants
QUERY_VARIANTS = 4

# name -> unit; the order is the order of BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "op_cpu_ms": "ms",
}

PER_LAYER = {
    "cdc.epoch_ms": "ms",
    "cdc.epoch_p90_ms": "ms",
    "cdc.addbatch_share": "ratio",
    "cdc.poll_wait_ms": "ms",
    "merge.drain_s": "s",
    "merge.compact_s": "s",
    "spark.shuffle_bytes_per_event": "bytes",
    "spark.cpu_s_per_mevent": "s",
    "spark.spill_bytes": "bytes",
    "lake.plan_ms": "ms",
    "lake.files_per_lookup": "count",
    "lake.manifests": "count",
    "lookup.exec_ms": "ms",
    "spark.jobs_per_lookup": "count",
    "lake.files": "count",
    "lake.data_bytes": "bytes",
    "lake.space_amp": "ratio",
    **{f"q.{leaf}.{m}": u for leaf in LEAVES for m, u in
       (("cold_s", "s"), ("warm_s", "s"), ("build_s", "s"),
        ("cpu_s", "s"), ("shuffle_bytes", "bytes"))},
    **{f"self.{layer}": "s" for layer in
       ("bench", "cdc", "lake", "merge", "queries", "spark")},
    "trace.overhead_ms": "ms",
}

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g",
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


JVM = None  # the running benchmark JVM, stopped with us on a signal


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """sha256 over every build input of the root project and the benchmark."""
    def generated(d):
        parts = os.path.relpath(d, ROOT).split(os.sep)
        return "target" in parts or parts.count("project") > 1
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        files = [top] if os.path.isfile(top) else [
            os.path.join(d, f) for d, _, fs in os.walk(top) if not generated(d)
            for f in fs]
        for p in sorted(files):
            if p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building the root project and the benchmark with sbt")
    env = dict(os.environ, **SBT_ENV)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850, start_new_session=True)
    lines = proc.stdout.splitlines()
    cps = [ln for ln in lines if "scala-2.13/classes" in ln and ":" in ln
           and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cps[-1]}, fh)
    return cps[-1]


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_jvm(args, classpath, work):
    """Run the benchmark JVM; return its parsed result line (or None) and
    its exit status. A watchdog kills it at the time limit."""
    global JVM
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--expected", args.expected, "--fault", args.fault]
           + (["--toy"] if args.toy else []) + (["--record"] if args.record else []))
    JVM = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           start_new_session=True)
    watchdog = threading.Timer(JVM_TIMEOUT_S, os.killpg, (JVM.pid, signal.SIGKILL))
    watchdog.start()
    result = None
    try:
        for line in JVM.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                sys.stderr.write(line)
        JVM.wait()
    finally:
        watchdog.cancel()
        if JVM.poll() is None:
            os.killpg(JVM.pid, signal.SIGKILL)
            JVM.wait()
    if JVM.returncode == -signal.SIGKILL:
        log(f"the JVM was killed after {JVM_TIMEOUT_S} s")
    return result, JVM.returncode


def record_digests(args, digests):
    """Store this run's leaf digests as the expectation for its input."""
    expected = {}
    if os.path.exists(args.expected):
        with open(args.expected) as fh:
            expected = json.load(fh)
    scale = "toy" if args.toy else "full"
    variant = str(args.seed % QUERY_VARIANTS)
    expected.setdefault(scale, {})[variant] = digests
    with open(args.expected, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"recorded {len(digests)} digests for {scale} input variant {variant}")


def table(title, metrics):
    rows = [f"# {title}"]
    for k, v in metrics.items():
        rows.append(f"#   {k:<34} {v['value']:>16.6g} {v['unit']}")
    return "\n".join(rows)


def stop_on_signal(signum, _frame):
    """SIGTERM/SIGINT: end the JVM's process group too, then exit."""
    if JVM is not None and JVM.poll() is None:
        os.killpg(JVM.pid, signal.SIGKILL)
        JVM.wait()
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop_on_signal)
    signal.signal(signal.SIGINT, stop_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected_queries.json"))
    ap.add_argument("--fault", default="none", choices=["none", "drop-event"])
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no sbt project to benchmark at {ROOT}")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        return 2

    classpath = build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # start from clean page cache state: an earlier run's dirty pages
    # would otherwise be written back while this one measures
    os.sync()
    load_before = loadavg()
    ticks_before = cpu_ticks()
    t0 = time.time()
    try:
        res, rc = run_jvm(args, classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        log(f"the JVM exited with status {rc} and printed no result")
        return 1

    fingerprint = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "toy": args.toy, "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "steal_share": round((cpu_ticks()[0] - ticks_before[0]) /
                             max(1, cpu_ticks()[1] - ticks_before[1]), 4),
        "heap_max_mb": res["heap_max_mb"], "spark_conf": res["spark_conf"],
        "wall_s": round(time.time() - t0, 3)}
    missing = []
    if args.trace:
        metrics = {k: res["layers"].get(k, {"value": 0.0, "unit": u})
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: res["e2e"][k] for k in END_TO_END if k in res["e2e"]}
        missing = [f"metric {k} was not measured" for k in END_TO_END if k not in metrics]
    failures = res["failures"] + missing
    correct = bool(res["correct"]) and not missing

    print("# fingerprint " + json.dumps(fingerprint, sort_keys=True))
    print(table(f"{args.workload}: figures by name", res["named"]))
    if args.trace:
        selfs = {k: v for k, v in res["layers"].items() if k.startswith("self.")}
        print(table("self time per layer (traced run)", selfs))
    for f in failures:
        print(f"# FAILED: {f}")
    if args.record and res["correct"]:
        record_digests(args, res["digests"])
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"fingerprint": fingerprint, "result": res}, fh, indent=1)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]) + len(missing),
                      "metrics": metrics}))
    return 0 if correct and rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
