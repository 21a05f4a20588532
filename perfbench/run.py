#!/usr/bin/env python3
"""graft benchmark: two workloads, each loading a different layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the root of a checkout. The first run builds the engine and
the harness from the checkout's sources (sbt, offline); later runs reuse
the build while the sources are unchanged. Each run:

  1. generates the input lake once per scale (gen.py, fixed data seed)
     and, from --seed, the query order or, for lake_write, the merge
     batches, lookup keys and ranges;
  2. starts a few session-only JVMs and takes the median time from
     launch to a ready session;
  3. in the benchmark JVM: one untimed warm pass, then a fixed number of
     timed passes (the workload's count per 10 s of --seconds); with
     --trace 1 also as many traced passes, interleaved;
     then the correctness gate pass, which writes every result. A pass
     that would overrun the run budget is skipped, and logged;
  4. checks the results against the DuckDB oracle (tools/check.py) and
     every returned count against its expected value;
  5. prints one JSON line: the end-to-end metrics (--trace 0) or the
     per-layer metrics (--trace 1). METRICS.md defines them.

An operation that throws or fails its check counts as failed, and its
time stays out of wall_s and the lookup percentiles.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

HEAP = "3g"
LAKE_SEED = 42  # the lake is fixed; --seed picks order, merge keys and lookups
SESSION_STARTS = 3  # set-ups per run; setup_s takes their median
RUN_BUDGET_S = 170  # a run after the build must end within this
ORACLE_RESERVE_S = 20  # of the budget, kept for the oracle compare after the JVM

# passes: timed passes per 10 s of --seconds. A pass takes about 3.5 s on
# iterative and 7.5 s on lake_write on a quiet 4-core host.
WORKLOADS = {
    "iterative_sf0.01": {"kind": "queries", "sf": 0.01, "passes": 2,
                         "queries": ["graph_label_propagation", "ml_kmeans_silhouette"]},
    "lake_write_sf0.1": {"kind": "lake", "sf": 0.1, "passes": 2, "merges": 2,
                         "update_frac": 0.01, "insert_frac": 0.003, "points": 25, "ranges": 2},
}

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.scala"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the engine plus harness, compiling when sources changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"not a graft checkout: {need} missing under {ROOT}")
    stamp = _source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    sbt = shutil.which("sbt")
    if sbt is None:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness (sbt, offline)")
    t0 = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise BenchError(f"build failed (sbt exit {r.returncode})")
    cp = r.stdout.strip().splitlines()[-1].strip()
    if "graftbench" not in cp and "perfbench" not in cp:
        raise BenchError("sbt did not print the harness classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(f"{stamp}\n{cp}\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# --------------------------------------------------------------- inputs

def query_order(spec, seed):
    """The workload's query set in a seed-chosen order."""
    rng = np.random.default_rng([seed, 1])
    return [spec["queries"][i] for i in rng.permutation(len(spec["queries"]))]


def lake_plan(spec, seed, lake, out):
    """Merge batches (written as parquet), lookup keys, ranges and every
    expected outcome, all drawn from the seed."""
    orders = pq.read_table(os.path.join(lake, "orders.parquet"))
    n = orders.num_rows
    live = np.zeros(n + spec["merges"] * (int(n * spec["insert_frac"]) + 1) + 1, dtype=bool)
    live[:n] = True
    next_key = n
    rng = np.random.default_rng([seed, 2])
    batches, expect = [], []
    for i in range(spec["merges"]):
        n_upd, n_ins = int(n * spec["update_frac"]), int(n * spec["insert_frac"])
        upd = np.sort(rng.choice(np.flatnonzero(live), n_upd, replace=False))
        ins = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        live[ins] = True
        keys = np.concatenate([upd, ins])
        m = len(keys)
        t = pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, max(10, int(150_000 * spec["sf"])), m), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, m)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, m), 2),
            "o_orderdate": pa.array(gen.EPOCH_1995 + rng.integers(0, 2404, m) * gen.US_PER_DAY,
                                    pa.timestamp("us")),
            "o_orderpriority": np.array(gen.PRIORITIES)[rng.integers(0, 5, m)],
        }).cast(orders.schema)
        path = os.path.join(out, f"merge_{i}.parquet")
        pq.write_table(t, path, compression="snappy")
        batches.append(path)
        expect.append({"updated": n_upd, "inserted": n_ins})
    live_keys = np.flatnonzero(live)
    present = rng.choice(live_keys, spec["points"] * 4 // 5, replace=False)
    absent = next_key + rng.choice(10 * n, spec["points"] - len(present), replace=False)
    points = rng.permutation(np.concatenate([present, absent]))
    width = max(1, n // 1000)
    lows = rng.integers(0, next_key - width, spec["ranges"])
    ranges = [(int(lo), int(lo + width - 1)) for lo in lows]
    return {
        "batches": batches,
        "merge_expect": expect,
        "points": [int(k) for k in points],
        "point_expect": [int(live[k]) if k < len(live) else 0 for k in points],
        "ranges": ranges,
        "range_expect": [int(np.count_nonzero((live_keys >= lo) & (live_keys <= hi)))
                         for lo, hi in ranges],
        "final_rows": int(len(live_keys)),
    }


def final_table_sql(batches):
    """DuckDB recomputation of the table after the merges: the newest
    batch row wins per key; base rows no batch touched stay."""
    union = " UNION ALL ".join(
        f"SELECT *, {i} AS batch_no FROM read_parquet('{b}')" for i, b in enumerate(batches))
    return (f"WITH b AS ({union}), latest AS (SELECT * EXCLUDE (rn, batch_no) FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY batch_no DESC) rn "
            f"FROM b) WHERE rn = 1) "
            f"SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest) "
            f"UNION ALL SELECT * FROM latest")


# ------------------------------------------------------------------ jvm

def write_plan(path, props):
    with open(path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")


def run_jvm(cp, plan, log_path, deadline):
    """Runs the harness JVM on a plan; returns (launch epoch ms, results)."""
    # a fixed-size heap, so heap sizing is the same in every run
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", cp, "graftbench.Main", plan["path"]]
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    write_plan(plan["path"], plan["props"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    launch_ms = time.time() * 1000
    with open(log_path, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL, stdout=lf,
                               stderr=subprocess.STDOUT, timeout=remaining(deadline))
        except subprocess.TimeoutExpired:
            raise BenchError(f"run budget of {RUN_BUDGET_S} s exceeded (log: {log_path})")
    if r.returncode != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise BenchError(f"benchmark JVM exited {r.returncode} (log: {log_path})")
    with open(plan["props"]["out"]) as f:
        return launch_ms, json.load(f)


def remaining(deadline):
    left = deadline - time.time()
    if left <= 0:
        raise BenchError(f"run budget of {RUN_BUDGET_S} s exceeded")
    return left


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


# ----------------------------------------------------------------- gate

def check_queries(lake, gate_dir, names, deadline):
    """tools/check.py's row/schema/hash compare; returns {query: ok}."""
    out = os.path.join(gate_dir, "check.json")
    try:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), lake,
                            gate_dir, *names, "--json", out], cwd=ROOT, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=remaining(deadline))
    except subprocess.TimeoutExpired:
        raise BenchError(f"run budget of {RUN_BUDGET_S} s exceeded in tools/check.py")
    if not os.path.exists(out):
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        raise BenchError("tools/check.py produced no result")
    with open(out) as f:
        res = json.load(f)
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            log(f"gate: {line[:300]}")
    return {q: bool(res.get(q, {}).get("hash_match")) and not res.get(q, {}).get("err")
            for q in names}


def lake_connection(lake):
    """DuckDB with a view per lake table, as tools/check.py sets it up."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")
    return con


def same_rows(con, got, expected_sql):
    """True when `got` (a table expression) holds exactly the rows of the
    oracle query, as a multiset, with the same column names."""
    try:
        gcols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
        ecols = sorted(c[0] for c in con.execute(f"DESCRIBE {expected_sql}").fetchall())
        if gcols != ecols:
            return False
        cols = ", ".join(f'"{c}"' for c in gcols)
        g = f"SELECT {cols} FROM {got}"
        e = f"SELECT {cols} FROM ({expected_sql})"
        n = con.execute(f"SELECT (SELECT COUNT(*) FROM ({g})), (SELECT COUNT(*) FROM ({e})), "
                        f"(SELECT COUNT(*) FROM (({g}) EXCEPT ALL ({e}))), "
                        f"(SELECT COUNT(*) FROM (({e}) EXCEPT ALL ({g})))").fetchone()
        return n[0] == n[1] and n[2] == 0 and n[3] == 0
    except Exception as ex:  # a malformed result is a failed check
        log(f"gate: compare error: {str(ex)[:300]}")
        return False


def judge(spec, res, lake, gate_dir, lp, deadline):
    """Marks every measured op ok or failed; returns the gate verdicts."""
    passes = res["passes"]
    for name, status in res["gate"].items():
        if status != "ok":
            log(f"gate: {name} was not written: {status}")
    if spec["kind"] == "queries":
        names = sorted({op["name"] for op in passes[0]["ops"]})
        verdict = check_queries(lake, gate_dir, names, deadline)
        for ps in passes:
            for op in ps["ops"]:
                op["ok"] = "error" not in op and verdict[op["name"]]
        return verdict
    extra = res["extra"]
    con = lake_connection(lake)
    final = f"read_parquet('{gate_dir}/lake_final/*.parquet')"
    sink = f"read_parquet('{gate_dir}/sink_events_%s/*.parquet')"
    verdict = {
        "lake_final": same_rows(con, final, final_table_sql(lp["batches"])),
        "sink_events_valid": same_rows(con, sink % "valid", extra["oracle_valid"]),
        "sink_events_quarantine": same_rows(con, sink % "quarantine", extra["oracle_quarantine"]),
    }
    for k, ok in verdict.items():
        if not ok:
            log(f"gate: FAIL {k}")
    rows = {f"sink.write:events_{k}": con.execute(
        f"SELECT COUNT(*) FROM ({extra[f'oracle_{k}']})").fetchone()[0]
        for k in ("valid", "quarantine")}
    mark_lake_ops(passes, verdict, rows, lp)
    return verdict


def mark_lake_ops(passes, verdict, rows, lp):
    """Marks each lake_write op ok or failed. The gate compares only the
    newest pass's table and sink outputs with the oracle; every other pass
    must match that pass's fingerprint (row count and content hash)."""
    gated = passes[-1]["checks"]
    for ps in passes:
        content = {k: ok and ps["checks"].get(k) == gated.get(k) for k, ok in verdict.items()}
        for k, ok in content.items():
            if verdict[k] and not ok:
                log(f"gate: FAIL {k} in pass {ps['index']}: {ps['checks'].get(k)} != {gated.get(k)}")
        pts, rgs, mi = iter(lp["point_expect"]), iter(lp["range_expect"]), iter(lp["merge_expect"])
        for op in ps["ops"]:
            v, k = op["values"], op["kind"]
            if k == "sink.write":
                ok = v.get("rows") == rows[op["name"]] and content[
                    "sink_" + op["name"].split(":")[1]]
            elif k == "vt.merge":
                e = next(mi)
                ok = (v.get("updated"), v.get("inserted")) == (e["updated"], e["inserted"])
                ok = ok and content["lake_final"]
            elif k == "vt.point":
                ok = v.get("rows") == next(pts)
            elif k == "vt.range":
                ok = v.get("rows") == next(rgs)
            else:  # vt.commit, vt.scan: judged by the final table
                ok = content["lake_final"]
            op["ok"] = "error" not in op and ok


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


# -------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolation quantile of a non-empty sample."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def pass_wall(ps):
    """Seconds of the pass's successful operations."""
    return sum(op["s"] for op in ps["ops"] if op["ok"])


def end_to_end(res, session_s):
    passes = res["passes"]
    timed = [p for p in passes[1:] if not p["traced"]]
    warm_s = (passes[0]["end_ms"] - passes[0]["start_ms"]) / 1000
    measured = passes[1:]
    attempted = sum(len(p["ops"]) for p in measured)
    failed = sum(1 for p in measured for op in p["ops"] if not op["ok"])
    m = {
        "setup_s": statistics.median(session_s) + warm_s,
        "wall_s": statistics.median(pass_wall(p) for p in timed),
        "ok_frac": 1 - failed / attempted,
    }
    return m, attempted, failed


def _union_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of the intervals."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# Adaptive query execution submits each query stage as its own job from a
# helper thread; such a job's call site names that thread, not the action.
AQE_STAGE_CALL = "$anonfun$withThreadLocalCaptured"
PROBE_CALLS = ("count at", "collect at", "head at", "take at", "first at", "isEmpty at",
               "toLocalIterator at", "collectAsList at", "takeAsList at", "show at")


def action_kinds(jobs):
    """'ckpt', 'probe' or 'other' per job. An adaptive stage job takes the
    kind of the next action job its span submits, the action it ran for."""
    kinds, pending = [], {}
    for j in sorted(jobs, key=lambda j: (j["start_ms"], j["id"])):
        if j["call_site"].startswith(AQE_STAGE_CALL):
            pending[j["span"]] = pending.get(j["span"], 0) + 1
            continue
        kind = ("ckpt" if j["ckpt"] else
                "probe" if j["call_site"].startswith(PROBE_CALLS) else "other")
        kinds += [kind] * (1 + pending.pop(j["span"], 0))
    return kinds + ["other"] * sum(pending.values())


def per_layer(spec, res, session_s, lp):
    tr = res["trace"]
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    spans = {s["id"]: s for s in tr["spans"]}
    kids = {}
    for s in tr["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    pass_spans = [s for s in tr["spans"] if s["name"] == "pass"]
    stages = {s["id"]: s for s in tr["stages"]}
    jobs = sorted(tr["jobs"], key=lambda j: j["id"])

    def innermost(t_ms):
        best = None
        for s in tr["spans"]:
            if s["start_ms"] <= t_ms <= s["end_ms"] and (best is None or s["start_ms"] >= best["start_ms"]):
                best = s
        return best

    def chain(sid):
        out = []
        while sid in spans:
            out.append(spans[sid])
            sid = spans[sid]["parent"]
        return out

    # jobs: span by property, else by start time; stages go to the first
    # job that ran them
    stage_owner = {}
    for j in jobs:
        if j["span"] not in spans:
            s = innermost(j["start_ms"])
            j["span"] = s["id"] if s else 0
        for st in j["stages"]:
            stage_owner.setdefault(st["id"], j["id"])
    for q in tr["qes"]:
        s = innermost(q["start_ms"])
        q["span"] = s["id"] if s else 0

    per_pass = []
    for ps, pspan in zip(traced, pass_spans):
        def in_pass(sid):
            return any(s["id"] == pspan["id"] for s in chain(sid))

        def layer_of(sid):
            names = [s["name"].split(":")[0] for s in chain(sid)]
            for n in ("build", "execute"):
                if n in names:
                    return n
            return "sources" if "sources" in names else "other"

        pj = [j for j in jobs if in_pass(j["span"])]
        m = {}
        for layer, prefix in (("build", "build"), ("execute", "exec")):
            lj = [j for j in pj if layer_of(j["span"]) == layer]
            lst = [stages[sid] for j in lj for sid in (st["id"] for st in j["stages"])
                   if sid in stages and stages[sid]["completed"] and stage_owner.get(sid) == j["id"]]
            lspans = [s for s in tr["spans"] if s["name"] == layer and in_pass(s["id"])]
            dur = sum(s["end_ms"] - s["start_ms"] for s in lspans) / 1000
            m[f"{prefix}.s"] = dur
            m[f"{prefix}.jobs"] = len(lj)
            m[f"{prefix}.tasks"] = sum(s["tasks"] for s in lst)
            m[f"{prefix}.task_s"] = sum(s["run_ms"] for s in lst) / 1000
            if layer == "build":
                covered = 0.0
                for s in lspans:
                    ivs = [(j["start_ms"], j["end_ms"]) for j in lj
                           if any(c["id"] == s["id"] for c in chain(j["span"]))]
                    covered += _union_ms(ivs, s["start_ms"], s["end_ms"])
                m["build.driver_s"] = dur - covered / 1000
                kinds = action_kinds(lj)
                m["build.ckpt_jobs"] = kinds.count("ckpt")
                m["build.probe_jobs"] = kinds.count("probe")
            else:
                m["exec.stages"] = len(lst)
                m["exec.core_busy_frac"] = (m["exec.task_s"] / (dur * os.cpu_count())
                                            if dur > 0 else 0.0)
                for k in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                          "spill_bytes"):
                    m[f"exec.{k}"] = sum(s[k] for s in lst)
        pq_ = [q for q in tr["qes"] if in_pass(q["span"])]
        m["plan.analysis_s"] = sum(q["analysis_ms"] for q in pq_) / 1000
        m["plan.optimization_s"] = sum(q["optimization_ms"] for q in pq_) / 1000
        m["plan.planning_s"] = sum(q["planning_ms"] for q in pq_) / 1000
        m["plan.executions"] = len(pq_)
        st = ps["storage"]
        m["storage.peak_mb"] = (st["peak"] - st["start"]) / 1e6
        m["storage.retained_mb"] = (st["end"] - st["start"]) / 1e6
        m["ckpt.blocks_created"] = st["rdd_created"]
        m["ckpt.bytes_created"] = st["rdd_bytes_created"]
        m["ckpt.blocks_released"] = st["rdd_released"]
        # self time per layer: span time not covered by child spans
        for layer in ("query", "build", "execute", "sources"):
            tot = 0.0
            for s in tr["spans"]:
                if s["name"].split(":")[0] == layer and in_pass(s["id"]):
                    ivs = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])]
                    tot += (s["end_ms"] - s["start_ms"]) - _union_ms(ivs, s["start_ms"], s["end_ms"])
            m[f"self.{layer}_s"] = tot / 1000
        ops = [op for op in ps["ops"] if op["ok"]]

        def opsum(kind, key=None):
            return sum((op["values"].get(key, 0) if key else op["s"]) for op in ops
                       if op["kind"] == kind)

        def opmean(kind, key):
            xs = [op["values"][key] for op in ops if op["kind"] == kind and key in op["values"]]
            return statistics.fmean(xs) if xs else 0.0
        m["sink.write_s"] = opsum("sink.write")
        m["sink.rows_written"] = opsum("sink.write", "rows")
        m["vt.commit_s"] = opsum("vt.commit")
        m["vt.merge_s"] = opsum("vt.merge")
        m["vt.merge_segments_rewritten"] = opsum("vt.merge", "segments_rewritten")
        m["vt.point_segments_opened"] = opmean("vt.point", "segments_opened")
        m["vt.range_s"] = opsum("vt.range")
        m["vt.range_segments_opened"] = opmean("vt.range", "segments_opened")
        m["vt.scan_s"] = opsum("vt.scan")
        m["wall_s"] = pass_wall(ps)
        per_pass.append(m)

    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    # lookup latency over every measured lookup of the run, traced or not
    lat = [op["s"] for p in passes[1:] for op in p["ops"] if op["kind"] == "vt.point" and op["ok"]]
    out["vt.point_n"] = len(lat)
    out["vt.point_p50_s"] = quantile(lat, 0.5) if lat else 0.0
    out["vt.point_p90_s"] = quantile(lat, 0.9) if lat else 0.0
    traced_wall = out.pop("wall_s")
    out["trace.overhead_s"] = traced_wall - statistics.median(pass_wall(p) for p in untraced)
    out["session.start_s"] = statistics.median(session_s)
    out["session.warm_s"] = (passes[0]["end_ms"] - passes[0]["start_ms"]) / 1000
    out.update(disk_layout(spec, res, lp))
    return out


def _bytes(paths):
    return sum(os.path.getsize(p) for p in paths if os.path.isfile(p))


def _parquet_under(d):
    return glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)


def _manifest_segments(table, v):
    with open(os.path.join(table, "_graft_log", f"{v}.json")) as f:
        return json.load(f)["segments"]


def disk_layout(spec, res, lp):
    """Space and write amplification of the last pass's files."""
    m = {"sink.files_written": 0, "sink.bytes_written": 0, "vt.merge_write_amp": 0.0,
         "vt.space_amp": 0.0, "vt.stored_bytes_per_row": 0.0}
    if spec["kind"] != "lake":
        return m
    silver, table = res["extra"]["silver_dir"], res["extra"]["table_dir"]
    files = _parquet_under(silver)
    m["sink.files_written"] = len(files)
    m["sink.bytes_written"] = _bytes(files)
    data = os.path.join(table, "data")

    def seg_bytes(segs):
        return sum(_bytes(_parquet_under(os.path.join(data, s))) for s in segs)
    versions = sorted(int(os.path.basename(p)[:-5])
                      for p in glob.glob(os.path.join(table, "_graft_log", "*.json")))
    head = _manifest_segments(table, versions[-1])
    written = sum(seg_bytes(set(_manifest_segments(table, v)) - set(_manifest_segments(table, v - 1)))
                  for v in versions[1:])
    m["vt.merge_write_amp"] = written / _bytes(lp["batches"])
    all_bytes = _bytes(_parquet_under(data))
    m["vt.space_amp"] = all_bytes / seg_bytes(head)
    m["vt.stored_bytes_per_row"] = all_bytes / lp["final_rows"]
    return m


# ------------------------------------------------------------------ run

def load_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def ensure_lake(sf):
    """The input lake for a scale, generated once per checkout."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:16]
    lake = os.path.join(WORK, f"lake_sf{sf}_{stamp}")
    if not os.path.exists(os.path.join(lake, "_DONE")):
        shutil.rmtree(lake, ignore_errors=True)
        gen.generate(lake, LAKE_SEED, sf)
        open(os.path.join(lake, "_DONE"), "w").close()
    return lake


def timed_passes(spec, seconds):
    """The workload's timed pass count, scaled with --seconds. It depends on
    nothing measured, so every run (and every commit) does the same work."""
    return max(1, round(spec["passes"] * seconds / 10))


def run_workload(name, seed, seconds, trace, inject=(), spec=None):
    spec = spec or WORKLOADS[name]
    cp = build()
    deadline = time.time() + RUN_BUDGET_S
    wdir = os.path.join(WORK, name)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    load_before = loadavg()
    t_start = time.time()
    lake = ensure_lake(spec["sf"])
    props = {"mode": "run", "kind": spec["kind"], "lake": lake,
             "passes": timed_passes(spec, seconds),
             "deadline_ms": int((deadline - ORACLE_RESERVE_S) * 1000),
             "trace": trace, "work": os.path.join(wdir, "tables"),
             "gate": os.path.join(wdir, "gate"), "out": os.path.join(wdir, "results.json"),
             "run_id": f"{name}-s{seed}-{int(time.time())}"}
    lp = None
    if spec["kind"] == "queries":
        props["queries"] = ",".join(query_order(spec, seed))
        props["inject"] = ",".join(inject)
    else:
        os.makedirs(os.path.join(wdir, "batches"))
        lp = lake_plan(spec, seed, lake, os.path.join(wdir, "batches"))
        props["merges"] = ",".join(lp["batches"])
        props["points"] = ",".join(map(str, lp["points"]))
        props["ranges"] = ",".join(f"{lo}:{hi}" for lo, hi in lp["ranges"])
    phases = {"prepare": time.time() - t_start}
    t = time.time()
    session_s = []
    for i in range(SESSION_STARTS - 1):
        sp = {"mode": "session", "out": os.path.join(wdir, f"session{i}.json")}
        launch, r = run_jvm(cp, {"path": os.path.join(wdir, f"session{i}.properties"),
                                 "props": sp}, os.path.join(wdir, f"session{i}.log"), deadline)
        session_s.append((r["ready_ms"] - launch) / 1000)
    phases["sessions"], t = time.time() - t, time.time()
    launch, res = run_jvm(cp, {"path": os.path.join(wdir, "plan.properties"), "props": props},
                          os.path.join(wdir, "jvm.log"), deadline)
    session_s.append((res["ready_ms"] - launch) / 1000)
    phases["benchmark_jvm"], t = time.time() - t, time.time()
    load_after = loadavg()
    if res["passes_skipped"]:
        log(f"{res['passes_skipped']} planned passes skipped to stay within {RUN_BUDGET_S} s")
    res["lake_plan"] = lp
    verdict = judge(spec, res, lake, props["gate"], lp, deadline)
    phases["oracle"] = time.time() - t
    e2e, attempted, failed = end_to_end(res, session_s)
    layers = per_layer(spec, res, session_s, lp) if trace else None
    env = {"workload": name, "seed": seed, "nproc": os.cpu_count(), "driver_heap": HEAP,
           "loadavg_before": load_before, "loadavg_after": load_after,
           "timed_passes": sum(1 for p in res["passes"][1:] if not p["traced"]),
           "traced_passes": sum(1 for p in res["passes"] if p["traced"]),
           "passes_skipped": res["passes_skipped"],
           "phase_s": {k: round(v, 2) for k, v in phases.items()},
           "gate_failed": sorted(k for k, v in verdict.items() if not v)}
    write_json(os.path.join(wdir, "summary.json"),
               {"env": env, "end_to_end": e2e, "per_layer": layers,
                "attempted": attempted, "failed": failed})
    return env, e2e, layers, attempted, failed, res


def result_line(metrics, units, attempted, failed):
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        e2e_units, layer_units = load_units()
        names = list(WORKLOADS) if a.workload == "all" else [a.workload]
        lines = {}
        for name in names:
            env, e2e, layers, attempted, failed, _ = run_workload(
                name, a.seed, a.seconds, a.trace)
            print(f"env {json.dumps(env)}")
            for k, u in e2e_units.items():
                print(f"{name} {k} {e2e[k]:.6g} {u}")
            if layers is not None:
                for k, u in layer_units.items():
                    print(f"{name} {k} {layers[k]:.6g} {u}")
            metrics, units = (layers, layer_units) if a.trace else (e2e, e2e_units)
            lines[name] = result_line(metrics, units, attempted, failed)
        if a.workload == "all":
            print(json.dumps({n: json.loads(l) for n, l in lines.items()}))
        else:
            print(lines[a.workload])
    except BenchError as e:
        log(f"error: {e}")
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
