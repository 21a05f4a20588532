#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

Checks, without trusting the harness's own summary:
  - seeds: another --seed changes the query order and the merge keys,
    never the query set, and the same seed gives the same inputs;
  - metric names in BENCHMARK.json and in a printed result line match
    [A-Za-z0-9_.-]+;
  - an injected query that throws and one whose result differs from its
    oracle are both counted as failed, lower ok_frac, and add nothing
    to wall_s;
  - a clean lake_write run passes its gate, the gate rejects a final
    table that misses a merge, and a pass whose table differs from the
    gated pass's fails its table operations.
Exits 0 when every check passes.
"""
import json
import os
import re
import shutil
import sys
import tempfile

import pyarrow.parquet as pq

import run

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
failures = []


def check(cond, what):
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        failures.append(what)


def test_seeds():
    spec = run.WORKLOADS["iterative_sf0.01"]
    orders = {s: run.query_order(spec, s) for s in range(1, 9)}
    check(all(sorted(o) == sorted(spec["queries"]) for o in orders.values()),
          "every seed runs the same query set")
    check(len({tuple(o) for o in orders.values()}) > 1, "seeds change the query order")
    check(run.query_order(spec, 3) == run.query_order(spec, 3), "a seed repeats its order")

    lake_spec = dict(run.WORKLOADS["lake_write_sf0.1"], sf=0.001)
    tmp = tempfile.mkdtemp(dir=run.WORK)
    try:
        lake = os.path.join(tmp, "lake")
        run.gen.generate(lake, run.LAKE_SEED, lake_spec["sf"])

        def keys(seed):
            out = os.path.join(tmp, f"b{seed}")
            os.makedirs(out)
            lp = run.lake_plan(lake_spec, seed, lake, out)
            return lp, [pq.read_table(b).column("o_orderkey").to_pylist() for b in lp["batches"]]
        lp1, k1 = keys(1)
        lp2, k2 = keys(2)
        lp1b, k1b = keys(11)
        check(k1 != k2, "seeds change the merge keys")
        check([len(k) for k in k1] == [len(k) for k in k2], "seeds keep the merge sizes")
        check(lp1["points"] != lp2["points"], "seeds change the lookup keys")
        shutil.rmtree(os.path.join(tmp, "b11"))
        lp1c, k1c = keys(11)
        check(k1b == k1c and lp1b["points"] == lp1c["points"], "a seed repeats its merge keys")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_names():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    bad = [n for n in names if not NAME_RE.match(n)]
    check(not bad, f"BENCHMARK.json names match {NAME_RE.pattern} {bad or ''}")
    check(len(names) == len(set(names)), "BENCHMARK.json names are unique")


def test_injected():
    spec = dict(run.WORKLOADS["iterative_sf0.01"], queries=["q1_agg"], sf=0.001, passes=1)
    env, e2e, _, attempted, failed, res = run.run_workload(
        "selftest_sf0.001", 1, 20, 0, inject=("throw", "wrong"), spec=spec)
    timed = [p for p in res["passes"][1:] if not p["traced"]]
    ops = [op for p in res["passes"][1:] for op in p["ops"]]
    bad = [op for op in ops if op["name"].startswith("selftest_")]
    check(all(not op["ok"] for op in bad), "both injected queries are judged failed")
    check(any("error" in op for op in bad if op["name"] == "selftest_throw"),
          "the throwing query's exception is recorded")
    check(all("error" not in op for op in bad if op["name"] == "selftest_wrong"),
          "the wrong-result query runs without error and fails only the oracle check")
    check(failed == len(bad) and attempted == len(ops), "attempted/failed count the injected ops")
    check(abs(e2e["ok_frac"] - (1 - len(bad) / len(ops))) < 1e-12, "ok_frac counts them")
    good_walls = sorted(sum(op["s"] for op in p["ops"] if not op["name"].startswith("selftest_"))
                        for p in timed)
    check(abs(e2e["wall_s"] - run.statistics.median(good_walls)) < 1e-9,
          "wall_s is the median of the good operations' time alone")
    check(all(op["s"] > 0 for op in bad), "the injected ops did take time (kept out of wall_s)")
    line = json.loads(run.result_line(e2e, {k: "x" for k in e2e}, attempted, failed))
    check(line["correct"] is False and all(NAME_RE.match(k) for k in line["metrics"]),
          "the result line reports the failure and well-formed metric names")


def test_lake_gate():
    """A tiny lake_write run passes its gate, the final-table check fails
    once a merge is left out of the recomputation, and an earlier pass is
    held to the gated pass's fingerprints."""
    spec = dict(run.WORKLOADS["lake_write_sf0.1"], sf=0.001, passes=2, points=5)
    _, e2e, _, attempted, failed, res = run.run_workload("selftest_lake_sf0.001", 2, 10, 0,
                                                         spec=spec)
    check(failed == 0 and e2e["ok_frac"] == 1.0, "a clean lake_write run has no failures")
    first, gated = res["passes"][1], res["passes"][-1]
    check(first is not gated and first["checks"] == gated["checks"],
          "every pass fingerprints the same table and sink outputs")
    first["checks"]["lake_final"] = "0:0"
    rows = {op["name"]: op["values"]["rows"] for op in gated["ops"] if op["kind"] == "sink.write"}
    run.mark_lake_ops(res["passes"], {k: True for k in gated["checks"]}, rows, res["lake_plan"])
    check({op["kind"] for op in first["ops"] if not op["ok"]} == {"vt.commit", "vt.merge", "vt.scan"}
          and all(op["ok"] for op in gated["ops"]),
          "a pass whose table differs from the gated one fails its commit, merges and scan")
    wdir = os.path.join(run.WORK, "selftest_lake_sf0.001")
    batches = sorted(os.path.join(wdir, "batches", b) for b in os.listdir(os.path.join(wdir, "batches")))
    con = run.lake_connection(run.ensure_lake(spec["sf"]))
    got = f"read_parquet('{wdir}/gate/lake_final/*.parquet')"
    check(run.same_rows(con, got, run.final_table_sql(batches)),
          "the lake gate accepts the merged table")
    check(not run.same_rows(con, got, run.final_table_sql(batches[:-1])),
          "the lake gate rejects the table recomputed without the last merge")


def main():
    test_seeds()
    test_names()
    test_injected()
    test_lake_gate()
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
