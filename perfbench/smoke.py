#!/usr/bin/env python3
"""Tiny-scale self-test of the pipeline benchmark.

Runs the listed workloads at `--scale tiny` with their output checks, a
second seed, one traced pass, a same-seed repeat of the admission reason
counts, and the admission event-time trap (which must fail its
decision-count check). Run from the repository root:

    python3 perfbench/smoke.py

Exit code 0 when every expectation holds. Takes about five minutes on four
cores after the build.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, trace=0, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    cmd += list(extra)
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=900)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or len(lines) < 2 or not lines[-2].startswith("record "):
        sys.stderr.write(res.stderr[-3000:])
        raise SystemExit("smoke: %s seed %d exited %d without a result"
                         % (workload, seed, res.returncode))
    return json.loads(lines[-2][len("record "):]), json.loads(lines[-1])


def reasons(rec):
    return {k: v for k, v in rec["counts"].items() if k.startswith("reason.")}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    names = {m["name"] for m in bench["end_to_end"]}
    first = {}
    for workload, seed in (("streams", 1), ("streams", 2), ("dashboard", 1)):
        rec, res = run(workload, seed)
        first.setdefault(workload, rec)
        bad = [c["name"] for c in rec["checks"] if not c["ok"]]
        expect(res["correct"] and res["failed"] == 0 and rec["checks"] and not bad,
               "%s seed %d: %d checks pass %s" % (workload, seed, len(rec["checks"]), bad))
        expect(set(res["metrics"]) == names and
               all(m["value"] > 0 for m in res["metrics"].values()),
               "%s seed %d: every end-to-end metric, none 0" % (workload, seed))

    # the admission path alone, same seed: same inputs, same decisions
    rec, res = run("admission", 1)
    expect(res["correct"] and reasons(rec) == reasons(first["streams"]),
           "admission: same seed, same reason counts %s" % reasons(rec))

    rec, res = run("admission", 1, extra=("--event-time", "random"))
    trap = [c for c in rec["checks"] if c["name"] == "decisions_equal_stream_minus_held_copies"]
    expect(not res["correct"] and trap and not trap[0]["ok"],
           "admission: random event time fails the decision-count check")

    rec, res = run("streams", 3, trace=1)
    names = {m["name"] for m in bench["per_layer"]}
    m = res["metrics"]
    expect(res["correct"] and set(m) == names,
           "streams traced: every per-layer metric (%d)" % len(names))
    outside = m["stream.jobs_outside_batch_share"]["value"]
    expect(outside < 0.05, "streams traced: batch jobs lie inside their trigger (%.4f)" % outside)
    expect(m["IngestPipeline.jobs"]["value"] > 0 and m["AdmissionPipeline.jobs"]["value"] > 0
           and m["Report.jobs"]["value"] == 0,
           "streams traced: IngestPipeline and AdmissionPipeline loaded, Report bypassed")
    expect(rec["speed"]["untraced"] > 0 and rec["speed"]["single_core"] > 0,
           "streams traced: overhead %.3f and speed-up %.3f measured in the run"
           % (m["trace.overhead_frac"]["value"], m["spark.speedup_vs_1core"]["value"]))

    if failures:
        raise SystemExit("smoke: %d expectation(s) failed" % len(failures))
    print("smoke: all expectations hold")


if __name__ == "__main__":
    main()
