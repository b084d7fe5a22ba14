#!/usr/bin/env python3
"""Self-tests of the benchmark at toy scale (about five minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that
  - BENCHMARK.json lists exactly the metrics and units run.py emits;
  - both workloads print every end-to-end metric (--trace 0) and every
    per-layer metric (--trace 1) by name with its unit, and pass;
  - a corrupted recorded query digest makes the queries run fail;
  - a dropped binlog event makes the ingest run fail;
  - a directory holding only BENCHMARK.json and perfbench/ fails fast
    without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "selftest")


def bench(*extra, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    proc = subprocess.run([sys.executable, script, "--seed", "5", "--seconds", "1",
                           "--toy", *extra], cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    last = None
    if lines:
        try:
            last = json.loads(lines[-1])
        except ValueError:
            pass
    return proc.returncode, last, proc


failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def main():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END,
           "BENCHMARK.json end_to_end matches run.py")
    expect({m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER,
           "BENCHMARK.json per_layer matches run.py")
    expect(sorted(w["name"] for w in spec["workloads"]) == ["ingest", "queries"],
           "BENCHMARK.json names the two workloads")

    for workload in ("ingest", "queries"):
        for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            rc, res, _ = bench("--workload", workload, "--trace", str(trace))
            expect(rc == 0 and res is not None and res["correct"],
                   f"{workload} --trace {trace} passes")
            got = (res or {}).get("metrics", {})
            expect(set(got) == set(names) and
                   all(got[k]["unit"] == u and isinstance(got[k]["value"], (int, float))
                       for k, u in names.items()),
                   f"{workload} --trace {trace} prints every metric with its unit")

    # a corrupted expected digest must fail the queries workload
    with open(os.path.join(HERE, "expected_queries.json")) as fh:
        expected = json.load(fh)
    variant = str(5 % run.QUERY_VARIANTS)
    rows, digest = expected["toy"][variant]["q1_agg"]
    expected["toy"][variant]["q1_agg"] = [rows, ("0" if digest[0] != "0" else "1") + digest[1:]]
    bad = os.path.join(SCRATCH, "corrupt_expected.json")
    with open(bad, "w") as fh:
        json.dump(expected, fh)
    rc, res, _ = bench("--workload", "queries", "--trace", "0", "--expected", bad)
    expect(rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
           "a corrupted recorded digest fails the queries run")

    # an event lost between the binlog and the engine must fail ingest
    rc, res, _ = bench("--workload", "ingest", "--trace", "0", "--fault", "drop-event")
    expect(rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
           "a dropped binlog event fails the ingest run")

    # only the benchmark's own files: no project to build, no result
    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res, proc = bench("--workload", "ingest", "--trace", "0", cwd=bare,
                          script=os.path.join(bare, "perfbench", "run.py"))
    expect(rc != 0 and res is None and proc.stdout.strip() == "",
           "a bare checkout exits non-zero without a result")

    shutil.rmtree(SCRATCH, ignore_errors=True)
    print(f"{len(failures)} failed" if failures else "all self-tests passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
