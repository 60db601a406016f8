#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload in one JVM.

    python3 graftbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness (sbt, offline) into graftbench/target; later runs reuse the build
while the sources are unchanged. Each run generates its tables, op order
and insert batches from the seed, computes the reference answers with
DuckDB (or, for append_rollup, with the tile rewrite excluded), starts
the harness JVM directly with `java`, and prints the metrics: a readable
table with units and sample counts, then one JSON line. With --trace 1
the harness also records spans, jobs and rule metering, and the JSON
carries the per-layer metrics instead of the end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen    # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170

GRAFT_RULES = ("LowerAsofJoin", "MvRewrite", "FkJoinElimination", "UniqueKeyAggregateRemove",
               "SemiJoinRewrite", "EagerAggregation", "AggregateUnionTranspose", "OrJoinToUnion")

# Query names in the olap mix: 8 of the 18 graft.Bench.headline queries,
# picked by the rule in NOTES.md.
OLAP_QUERIES = ["d01_dedup_exact", "q03_topk_join", "q07_cust_order_dist",
                "q50_unnest_wordcount", "q93_sessionize", "q96_asof_join",
                "q148_mv_filtered_rollup", "q159_mv_fk_tile"]

WORKLOADS = {
    # sf: scale of the generated tables; warm: untimed passes after the
    # cold first one
    "olap_mix": dict(sf=0.01, warm=2),
    "append_rollup": dict(sf=0.01, warm=1),
}

# append_rollup: one pass alternates an insert with a read, the reads in
# a seeded order. Every read follows an insert, so whether the join tile
# has absorbed it yet does not depend on where the seed put the read. The
# pass ends with a drain of the tile maintenance thread and a join rollup
# that the folded join tile must answer. The fast tile-answered reads
# (the leaf rollup and the folded join rollup) stay a third of the
# reads, away from the median.
APPEND_READS = ["leaf_rollup", "join_rollup", "join_rollup", "fact_scan", "fact_scan"]
BATCH_ROWS = 500
# MV-eligible reads of append_rollup by the tile that should answer them
TILE_READS = {"leaf_tile": "leaf_rollup", "join_tile": "join_rollup",
              "folded_join": "folded_join_rollup"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "ops_per_s": "1/s",
             "read_p50_ms": "ms", "read_tail_ms": "ms", "cpu_ms_per_op": "ms",
             "peak_rss_mb": "MiB", "ok_ratio": "ratio"}


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns (classpath,
    catalog). The catalog holds the engine's oracle statements."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: the engine sources (build.sbt, src/main/scala/graft) "
                         "are not beside this directory; run from the repository root")
    stamp = _source_stamp()
    cp_file, cat_file, stamp_file = (os.path.join(TARGET, f) for f in
                                     ("classpath.txt", "catalog.json", "stamp.txt"))
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), json.load(open(cat_file))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"graftbench: build failed (sbt exit {p.returncode})")
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    java(classpath, ["catalog", cat_file], timeout=120, log_path=os.path.join(TARGET, "catalog.log"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return classpath, json.load(open(cat_file))


def java(classpath, args, timeout, log_path):
    """Run graftbench.Main; its temporary files go beside `log_path`."""
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: peak RSS then reflects the heap the JVM was given plus
    # everything off-heap, not how far G1 happened to grow it in one run
    cmd = ["java", "-Xms1536m", "-Xmx1536m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"graftbench: harness exceeded {timeout:.0f} s")
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"graftbench: harness exited with {rc}")


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, seconds, work, catalog):
    """Tables, op list and references for one run."""
    import numpy as np
    import pyarrow.parquet as pq
    cfg = WORKLOADS[workload]
    rng = np.random.default_rng([seed, list(WORKLOADS).index(workload)])
    data = os.path.join(work, "data")
    gen.write(data, seed, cfg["sf"])
    # every pass takes well over a second, so this many never run dry
    n_pass = 1 + cfg["warm"] + int(seconds) + 5
    lines = []
    if workload == "append_rollup":
        n_cust = pq.read_metadata(os.path.join(data, "customer.parquet")).num_rows
        next_key = pq.read_metadata(os.path.join(data, "orders.parquet")).num_rows
        os.makedirs(os.path.join(work, "batches"))
        for p in range(n_pass):
            for i in rng.permutation(len(APPEND_READS)):
                batch = f"b{next_key}"
                pq.write_table(gen.orders_table(rng, BATCH_ROWS, next_key, n_cust),
                               os.path.join(work, "batches", f"{batch}.parquet"))
                next_key += BATCH_ROWS
                lines += [(p, "w", "insert", batch), (p, "r", APPEND_READS[i], "")]
            lines += [(p, "d", "drain", ""), (p, "r", "folded_join_rollup", "")]
    else:
        for p in range(n_pass):
            for i in rng.permutation(len(OLAP_QUERIES)):
                lines.append((p, "q", OLAP_QUERIES[i], ""))
        write_references(data, os.path.join(work, "expected"), OLAP_QUERIES, catalog["oracle_sql"])
    with open(os.path.join(work, "ops.tsv"), "w") as f:
        for p, k, n, a in lines:
            f.write(f"{p}\t{k}\t{n}\t{a}\n")


def write_references(data, out_dir, names, oracle_sql):
    """Run each statement's DuckDB oracle over the generated tables and
    keep the result as parquet for the harness to checksum."""
    import duckdb
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name in sorted(names):
        pq.write_table(con.execute(oracle_sql[name]).arrow(), os.path.join(out_dir, f"{name}.parquet"))
    con.close()


# ---------------------------------------------------------------- metrics

def load(path):
    recs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            recs.setdefault(r["type"], []).append(r)
    return recs


def per_op(total, n):
    return total / n if n else 0.0


def e2e_metrics(recs, base_rows):
    """End-to-end metrics as {name: (value, sample count, note)}, plus
    the write latencies, and the answer check as (attempted, failed,
    reasons)."""
    win = recs["window"][0]
    ops = recs["op"]
    timed = [o for o in ops if o["phase"] == "timed"]
    reads = [o["t1"] - o["t0"] for o in timed if o["kind"] == "read" and o["ok"]]
    writes = [o["t1"] - o["t0"] for o in timed if o["kind"] == "write" and o["ok"]]
    good, bad = stats.check_answers(ops, {e["key"]: e for e in recs.get("expect", [])})
    inserted = [o for o in ops if o["kind"] == "write" and o["ok"]]
    if inserted:
        # an insert is correct when the copy ends with exactly its rows
        final = recs["finish"][0]["final_rows"]
        want = base_rows + BATCH_ROWS * len(inserted)
        if final != want:
            good -= len(inserted)
            bad.append(("insert", f"{final} rows in the orders copy, {want} expected"))

    def tail(vals):
        t = stats.tail(vals)
        if t:
            return t[1], len(vals), f"p{t[0]:g}, {t[2]} beyond"
        # too few samples for any rung: the slowest one stands in
        return max(vals, default=0.0), len(vals), "max: under 20 samples"

    n = len(timed)
    m = {
        "setup_s": (recs["setup"][0]["s"], 1, ""),
        "first_pass_s": (recs["first_pass"][0]["s"], 1, ""),
        "ops_per_s": (per_op(n, (win["t1"] - win["t0"]) / 1000.0), n, ""),
        "read_p50_ms": (stats.median(reads), len(reads), ""),
        "read_tail_ms": tail(reads),
        "cpu_ms_per_op": (per_op(win["cpu_ms"], n), n, ""),
        "peak_rss_mb": (recs["process"][0]["peak_rss_mb"], 1, ""),
        "ok_ratio": (per_op(good, len(ops)), len(ops), ""),
    }
    w = {"write_p50_ms": (stats.median(writes), len(writes), ""),
         "write_tail_ms": tail(writes)} if writes else {}
    return m, w, (len(ops), len(ops) - good, bad)


def layer_metrics(recs, cores):
    win = recs["window"][0]
    ops = [o for o in recs["op"] if o["phase"] == "timed"]
    n = len(ops)
    ids = {o["id"] for o in ops}
    spans = {}
    for s in recs.get("span", []):
        if s["op"] in ids:
            spans.setdefault(s["op"], []).append(s)
    jobs = [j for j in recs.get("job", []) if win["t0"] <= j["t0"] <= win["t1"]]
    owner = stats.attribute_jobs(ops, jobs)
    stages = [st for j in jobs for st in j["stages"]]

    def span_sum(op_id, names):
        return sum(s["t1"] - s["t0"] for s in spans.get(op_id, []) if s["name"] in names)

    def mean_over(sel, f):
        xs = [f(o) for o in ops if sel(o)]
        return sum(xs) / len(xs) if xs else 0.0

    reads = [o for o in ops if o["kind"] == "read"]
    phase = {p: mean_over(lambda o: o["kind"] == "read",
                          lambda o, p=p: span_sum(o["id"], {f"builder.{p}", f"command.{p}"}))
             for p in ("analysis", "optimization", "planning")}
    sql_ops = [o for o in reads if o["id"] in spans and any(s["name"] == "graftsql" for s in spans[o["id"]])]

    def frontend(o):
        return span_sum(o["id"], {"graftsql"}) - span_sum(
            o["id"], {"builder.parsing", "builder.analysis", "builder.optimization", "builder.planning"})

    rules = {r["rule"]: r for r in recs.get("rule", [])}

    def rule_short(r):
        return r.replace("$", ".").rstrip(".").split(".")[-1]

    graft = {g: [r for k, r in rules.items() if rule_short(k) == g] for g in GRAFT_RULES}
    m = {
        "sql.frontend_ms": sum(frontend(o) for o in sql_ops) / len(sql_ops) if sql_ops else 0.0,
        "functions.register_ms": mean_over(lambda o: "register_ms" in o, lambda o: o["register_ms"]),
        "operators.build_ms": mean_over(
            lambda o: o["kind"] == "read" and o not in sql_ops, lambda o: span_sum(o["id"], {"build"})),
        "catalyst.analysis_ms": phase["analysis"],
        "catalyst.optimizer_ms": phase["optimization"],
        "catalyst.planning_ms": phase["planning"],
        "optimizer.rule_ms": per_op(sum(r["ms"] for r in rules.values()), n),
        "optimizer.graft_rule_ms": per_op(sum(r["ms"] for rs in graft.values() for r in rs), n),
    }
    for g in GRAFT_RULES:
        m[f"optimizer.{g}.ms"] = per_op(sum(r["ms"] for r in graft[g]), n)
        m[f"optimizer.{g}.effective"] = per_op(sum(r["effective"] for r in graft[g]), n)
    task_cpu = sum(st.get("cpu_ms", 0.0) for st in stages)
    task_run = sum(st.get("run_ms", 0.0) for st in stages)
    wall_ms = win["t1"] - win["t0"]
    skews = []
    for o in reads:
        own = [st for j in jobs if owner.get(j["job"]) == o["id"] for st in j["stages"]]
        s = stats.task_skew(own)
        if s is not None:
            skews.append(s)
    m.update({
        "codegen.compiles_per_op": per_op(win["compiles"], n),
        "codegen.compile_ms_per_op": per_op(win["compiles"] * win["compile_mean_ms"], n),
        "exec.jobs_per_op": per_op(len(jobs), n),
        "exec.stages_per_op": per_op(len(stages), n),
        "exec.tasks_per_op": per_op(sum(st.get("tasks", 0) for st in stages), n),
        "exec.task_cpu_ms_per_op": per_op(task_cpu, n),
        "exec.task_run_ms_per_op": per_op(task_run, n),
        "exec.shuffle_write_kb_per_op": per_op(sum(st.get("sw_kb", 0.0) for st in stages), n),
        "exec.shuffle_read_kb_per_op": per_op(sum(st.get("sr_kb", 0.0) for st in stages), n),
        "exec.spill_kb_per_op": per_op(sum(st.get("spill_kb", 0.0) for st in stages), n),
        "exec.task_skew": stats.median(skews) if skews else 1.0,
        "exec.core_busy_ratio": task_run / (wall_ms * cores) if wall_ms else 0.0,
        "exec.background_jobs_per_op": per_op(sum(1 for j in jobs if owner[j["job"]] is None), n),
        "driver.cpu_ms_per_op": per_op(win["cpu_ms"] - task_cpu, n),
        "jvm.gc_ms_per_op": per_op(win["gc_ms"], n),
        "jvm.jit_ms_per_op": per_op(win["jit_ms"], n),
        "jvm.classes_loaded_per_op": per_op(win["classes"], n),
    })
    eligible = [o for o in reads if o.get("mv_eligible", "_mv_" in o["name"])]
    writes = [o for o in ops if o["kind"] == "write"]
    rows = BATCH_ROWS * len(writes)

    def hit_ratio(sel):
        return per_op(sum(1 for o in sel if o.get("tile")), len(sel))

    m["plans.mv_hit_ratio"] = hit_ratio(eligible)
    for tile, name in TILE_READS.items():
        m[f"plans.{tile}_hit_ratio"] = hit_ratio([o for o in eligible if o["name"] == name])
    m.update({
        "plans.pending_folds_after_write": mean_over(lambda o: o["kind"] == "write", lambda o: o["pending"]),
        "plans.drain_ms": mean_over(lambda o: o["kind"] == "drain", lambda o: o["t1"] - o["t0"]),
        "dml.files_added_per_write": mean_over(lambda o: o["kind"] == "write", lambda o: o["files_added"]),
        "dml.file_bytes_per_row": per_op(sum(o["bytes_added"] for o in writes), rows),
    })
    selfs = {}
    for o in ops:
        root = {"name": "op", "t0": o["t0"], "t1": o["t1"]}
        for name, ms in stats.self_times([root] + spans.get(o["id"], []) + [
                {"name": "job", "t0": j["t0"], "t1": j["t1"]} for j in jobs if owner[j["job"]] == o["id"]]):
            key = name.split(".")[0] if name.startswith(("builder.", "command.")) else name
            selfs[key] = selfs.get(key, 0.0) + ms
    for key in ("op", "build", "graftsql", "builder", "command", "job", "insert"):
        m[f"self.{key}_ms_per_op"] = per_op(selfs.get(key, 0.0), n)
    return m


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath, catalog = build()
    started = time.time()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        make_inputs(a.workload, a.seed, a.seconds, work, catalog)
        cores = len(os.sched_getaffinity(0))
        out = os.path.join(work, "out.jsonl")
        java(classpath, ["run", a.workload, work, out, str(a.seconds), str(a.trace), str(cores),
                         str(WORKLOADS[a.workload]["warm"])],
             timeout=max(30, RUN_LIMIT_S - (time.time() - started)),
             log_path=os.path.join(work, "harness.log"))
        import pyarrow.parquet as pq
        base_rows = pq.read_metadata(os.path.join(work, "data", "orders.parquet")).num_rows
        report(a, load(out), base_rows, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, recs, base_rows, cores):
    e2e, writes, (attempted, failed, bad) = e2e_metrics(recs, base_rows)
    for name, why in bad[:20]:
        log(f"not correct: {name}: {why}")
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {cores}")
    for k, (v, n, note) in list(e2e.items()) + list(writes.items()):
        unit = E2E_UNITS.get(k, "ms")
        print(f"  {k:<16} {v:12.4f} {unit:<6} n={n}" + (f"  ({note})" if note else ""))
    if a.trace:
        metrics = layer_metrics(recs, cores)
        metrics["write.p50_ms"] = writes.get("write_p50_ms", (0.0,))[0]
        metrics["write.tail_ms"] = writes.get("write_tail_ms", (0.0,))[0]
        metrics["trace.ops_per_s"] = e2e["ops_per_s"][0]
        metrics["trace.read_p50_ms"] = e2e["read_p50_ms"][0]
        for k, v in metrics.items():
            print(f"  {k:<44} {v:14.4f} {layer_unit(k)}")
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _, _) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def layer_unit(name):
    if name.endswith(("_ms", ".ms")) or "_ms_per" in name:
        return "ms"
    if name.endswith(("_kb_per_op",)):
        return "KiB"
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith(("ratio", "skew")):
        return "ratio"
    if name.endswith("bytes_per_row"):
        return "B"
    return "count"


if __name__ == "__main__":
    main()
