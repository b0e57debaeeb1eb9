#!/usr/bin/env python3
"""The repo's benchmark: one command, four workloads, every metric by name
and unit, every result checked.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program from source
(perfbench/build.py), makes the workload's inputs from --seed, runs one
closed-loop client in one JVM with Spark local[nproc], checks every
operation, and prints the result as the last line of standard output:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics of
a traced pass (spans are kept under .bench_build/traces/). Exits non-zero on
any failed or wrong operation. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402

WORKLOADS = ("kg_build", "kg_lookup", "query_iterative", "query_single")
QUERY_WORKLOADS = ("query_iterative", "query_single")
# scale of the seeded sf tables the query workloads read
QUERY_SF = 0.004
# a run must end within 180 s; the two workloads outside BENCHMARK.json
# are run by hand and may take longer
DEADLINE_S = {"kg_lookup": 600, "query_single": 600}

END_TO_END = {  # name -> unit
    "setup_s": "s", "run_s": "s", "rows_per_s": "1/s", "peak_heap_mb": "MB",
}
ITERATIVE = ("r28_seeded_path", "g1_path_closure", "d8_dedup_clusters",
             "r27_encoded_path", "d4_dedup_lsh", "u1_update", "v8_sameas_canon",
             "v2_rules", "v6_magic_goal", "v7_owl_micro", "r25_encoded_bgp")
FAMILIES = ("relational", "ops", "text", "geo", "algebra", "shapes", "reason", "media")
PER_LAYER = dict(
    [("fixtures.s", "s"), ("fixtures.rows", "count"),
     ("extract.s", "s"), ("extract.rows_out", "count"),
     ("link.s", "s"), ("link.rows_out", "count"), ("link.hit_ratio", "ratio"),
     ("link.shuffle_bytes", "bytes"), ("link.task_skew", "ratio"),
     ("canon.s", "s"), ("canon.edges", "count"), ("canon.jobs", "count"),
     ("store.write_s", "s"), ("store.bytes_written", "bytes"),
     ("store.files", "count"), ("store.jobs", "count"),
     ("store.bytes_per_triple", "bytes"),
     ("store.bytes_read", "bytes"), ("store.rows_read", "count"),
     ("store.rows_read_per_result", "ratio"),
     ("sparql.parse_s", "s"), ("sparql.compile_s", "s"),
     ("build.s", "s"), ("build.jobs", "count")]
    + [(f"{q}.{m}", u) for q in ITERATIVE
       for m, u in (("s", "s"), ("build_s", "s"), ("build_jobs", "count"))]
    + [(f"{f}.s", "s") for f in FAMILIES]
    + [("single.build_s", "s"), ("single.exec_s", "s")]
    + [("spark.analysis_s", "s"), ("spark.optimization_s", "s"),
       ("spark.planning_s", "s"), ("spark.exec_s", "s"), ("spark.jobs", "count"),
       ("spark.tasks", "count"), ("spark.input_bytes", "bytes"),
       ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.codegen_compile_s", "s"), ("spark.busy_frac", "ratio"),
       ("spark.driver_only_s", "s"),
       ("trace.pass_s", "s"), ("trace.overhead", "ratio")])

def weather():
    """tools/probe.sh's fixed-work loop (an eighth of its 20M iterations,
    wall scaled by 8) and the steal share of CPU time while it ran."""
    def stat():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return sum(v), v[7]
    tot0, st0 = stat()
    t0 = time.perf_counter()
    s = 0
    for i in range(2_500_000):
        s += i ^ (i >> 3)
    wall = (time.perf_counter() - t0) * 8
    tot1, st1 = stat()
    steal = 100.0 * (st1 - st0) / max(1, tot1 - tot0)
    return {"probe_wall_s": round(wall, 3), "steal_pct": round(steal, 2)}


def read_records(run_dir):
    path = os.path.join(run_dir, "records.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# ------------------------------------------------------------ correctness

def canon_rows(df):
    """tools/check_oracle.py's canonical form: columns sorted by name, each
    value as str(), rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False))


def oracle_failures(oracle_sql, data_dir, dump_dir):
    """Compare each warm-pass dump with the DuckDB oracle; return
    {query: reason} for every mismatch."""
    import duckdb
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            exp = canon_rows(con.execute(sql).fetchdf())
            got = canon_rows(con.execute(
                f"SELECT * FROM '{os.path.join(dump_dir, name)}/*.parquet'").fetchdf())
            if exp[0] != got[0]:
                bad[name] = f"columns {got[0]} vs oracle {exp[0]}"
            elif exp[1] != got[1]:
                bad[name] = f"rows spark={len(got[1])} oracle={len(exp[1])}"
        except Exception as e:  # a failing oracle or dump is a failed check
            bad[name] = f"oracle compare error: {e}"
    return bad


def judge(records, oracle_bad, corrupt=None):
    """Mark each operation failed or not. An operation fails when it raised,
    when the program's own check rejected it, when its query's output
    disagrees with the oracle, or when its digest differs from the
    oracle-validated warm-pass digest."""
    ops = [r for r in records if r["type"] == "op"]
    expected = {o["name"]: o["digest"] for o in ops if o["pass"] == 0 and o["digest"]}
    if corrupt in expected:
        expected[corrupt] = "corrupted-" + expected[corrupt]
    for o in ops:
        reason = o.get("error")
        if reason is None and o["name"] in oracle_bad:
            reason = oracle_bad[o["name"]]
        if reason is None and o["name"] in expected and o["digest"] != expected[o["name"]]:
            reason = f"digest {o['digest']} != expected {expected[o['name']]}"
        o["failed"] = reason
    return ops


# ---------------------------------------------------------------- metrics

def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def timed_ops(ops):
    return [o for o in ops if o.get("timed") and not o["failed"]]


def end_to_end(records, ops):
    """setup_s: every setup part, warm-up passes included. run_s: one pass
    as the sum over its operations of each operation's median time across
    the timed passes, so a slow pass moves it only through the operations
    it slowed. rows_per_s: a pass's rows over run_s."""
    setup = sum(r["s"] for r in records if r["type"] == "setup")
    by_name = {}
    for o in timed_ops(ops):
        by_name.setdefault(o["name"], []).append(o)
    run_s = sum(statistics.median(o["build_s"] + o["exec_s"] for o in runs)
                for runs in by_name.values())
    rows = sum(statistics.median(o["rows"] for o in runs) for runs in by_name.values())
    heap = next(r["peak_mb"] for r in records if r["type"] == "heap")
    return {"setup_s": setup, "run_s": run_s,
            "rows_per_s": rows / run_s if run_s else 0.0, "peak_heap_mb": heap}


def latencies(ops):
    """Operation latency over the timed passes: p50, p90 and the count."""
    lat = [o["build_s"] + o["exec_s"] for o in timed_ops(ops)]
    if not lat:
        return 0.0, 0.0, 0
    return statistics.median(lat), p90(lat), len(lat)


def per_layer(records, ops):
    got = {}
    for r in records:
        if r["type"] == "layers":
            got.update(r["metrics"])
    untraced = sum(o["build_s"] + o["exec_s"] for o in ops
                   if o["pass"] == 1 and not o["failed"])
    got["trace.overhead"] = got["trace.pass_s"] / untraced - 1 if untraced else 0.0
    return {k: float(got.get(k, 0.0)) for k in PER_LAYER}, untraced


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    build.build()
    deadline = time.monotonic() + DEADLINE_S.get(args.workload, 170)
    base = os.path.abspath(build.BUILD_DIR)
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        if args.workload in QUERY_WORKLOADS:
            import datagen
            datagen.write(args.seed, QUERY_SF, data_dir)
        w = weather()
        print(f"weather: probe_wall_s={w['probe_wall_s']} steal_pct={w['steal_pct']}")
        code = build.run_java(
            [args.workload, str(args.seed), str(args.seconds), str(args.trace),
             run_dir, data_dir], run_dir,
            f"-XX:SharedArchiveFile={build.archive()}", deadline - time.monotonic())
        records = read_records(run_dir)
        fatal = [r for r in records if r["type"] == "fatal"]
        if code != 0 or fatal or not any(r["type"] == "op" for r in records):
            sys.stdout.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            raise SystemExit(f"perfbench: workload did not run (exit {code}) {fatal}")
        oracle = next((r["sql"] for r in records if r["type"] == "oracle"), {})
        oracle_bad = oracle_failures(oracle, data_dir, os.path.join(run_dir, "dumps")) \
            if oracle else {}
        ops = judge(records, oracle_bad, os.environ.get("PERFBENCH_CORRUPT"))
        if args.trace:
            keep = os.path.join(base, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "records.jsonl"),
                        os.path.join(keep, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    cfg = next(r for r in records if r["type"] == "config")
    print("config: " + " ".join(f"{k}={v}" for k, v in cfg.items() if k != "type"))
    for r in records:
        if r["type"] in ("setup", "check", "store"):
            print(r["type"] + ": " + " ".join(f"{k}={v}" for k, v in r.items() if k != "type"))
    failed = [o for o in ops if o["failed"]]
    for o in failed[:20]:
        print(f"FAILED {o['name']} (pass {o['pass']}): {o['failed']}")
    attempted = len(ops)
    print(f"error_rate = {len(failed) / attempted:.4f} ({len(failed)} failed / {attempted} attempted)")
    if args.trace:
        metrics, untraced = per_layer(records, ops)
        units = PER_LAYER
        print(f"trace: traced pass {metrics['trace.pass_s']:.3f} s, untraced pass "
              f"{untraced:.3f} s, overhead {100 * metrics['trace.overhead']:.1f}%")
    else:
        metrics = end_to_end(records, ops)
        units = END_TO_END
        p50, p90_, n = latencies(ops)
        print(f"latency: p50 {p50:.4g} s, p90 {p90_:.4g} s over {n} timed operations")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
