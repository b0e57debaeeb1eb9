#!/usr/bin/env python3
"""Self-test of the benchmark's checking: a corrupted expected digest, a
program-side check failure and an oracle mismatch must each fail their
operations, keep them out of every timing, and make the run incorrect.

    python3 perfbench/selftest.py          # checking logic only, instant
    python3 perfbench/selftest.py --e2e    # plus a real query_iterative run
                                           # with one expected digest corrupted
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def records():
    def op(p, name, s, digest, error=None):
        return {"type": "op", "pass": p, "name": name, "build_s": s / 2,
                "exec_s": s / 2, "rows": 10, "digest": digest, "error": error,
                "timed": p > 1}
    return [
        {"type": "setup", "name": "session", "s": 5.0},
        {"type": "setup", "name": "warmup_pass_1", "s": 21.0},
        {"type": "heap", "peak_mb": 100.0},
        op(0, "a", 9.0, "da"), op(0, "b", 9.0, "db"), op(0, "c", 9.0, "dc"),
        op(1, "a", 7.0, "da"), op(1, "b", 7.0, "db"), op(1, "c", 7.0, "dc"),
        op(2, "a", 1.0, "da"), op(2, "b", 2.0, "db"), op(2, "c", 3.0, "dc"),
        op(3, "a", 1.5, "da"), op(3, "b", 2.0, "db"), op(3, "c", 9.0, "dc"),
        op(4, "a", 1.0, "da"), op(4, "b", 5.0, "db"), op(4, "c", 3.0, "dc"),
    ]


def check(cond, what):
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok   {what}")


def metric_lists():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    check([m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END) and
          [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER),
          "BENCHMARK.json names the metrics run.py reports, in order")


def logic():
    ops = run.judge(records(), {})
    check(not any(o["failed"] for o in ops), "clean records pass")
    clean = run.end_to_end(records(), ops)
    check(abs(clean["run_s"] - 6.0) < 1e-9,
          "run_s sums each operation's median over the timed passes")
    check(clean["setup_s"] == 26.0, "warm-up passes count in setup_s, not in run_s")
    check(abs(clean["rows_per_s"] - 5.0) < 1e-9, "rows_per_s is a pass's rows over run_s")

    ops = run.judge(records(), {}, corrupt="b")
    bad = [o for o in ops if o["failed"]]
    check(len(bad) == 5 and all(o["name"] == "b" for o in bad),
          "a corrupted expected digest fails every run of that operation")
    m = run.end_to_end(records(), ops)
    check(abs(m["run_s"] - 4.0) < 1e-9 and run.latencies(ops)[2] == 6,
          "failed operations are left out of run_s and the latencies")

    recs = records()
    recs[6]["error"] = "snapshot digest x, expected y"
    ops = run.judge(recs, {})
    check([o["name"] for o in ops if o["failed"]] == ["a"],
          "a program-side check failure fails its operation")

    ops = run.judge(records(), {"c": "rows spark=3 oracle=4"})
    check(sum(1 for o in ops if o["failed"]) == 5,
          "an oracle mismatch fails the warm pass and every timed run")


def e2e():
    env = dict(os.environ, PERFBENCH_CORRUPT="r28_seeded_path")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "query_iterative", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], env=env, capture_output=True, text=True)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    check(p.returncode != 0, "the run exits non-zero")
    check(result["correct"] is False and result["failed"] >= 1,
          "the result reports the corrupted operation as failed")


if __name__ == "__main__":
    metric_lists()
    logic()
    if "--e2e" in sys.argv[1:]:
        e2e()
    print("selftest passed")
