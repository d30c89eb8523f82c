#!/usr/bin/env python3
"""The repo's benchmark: seeded inputs, the frozen gate queries of
`SparkEntry.queries`, every output checked against the DuckDB oracle.

usage (from the repository root):
  python3 perfbench/run.py --workload tile|scale|all --seed N \
      --seconds S --trace 0|1

It compiles src/main/scala and perfbench/scala with the Scala compiler in
/opt/spark/jars into $CARGO_TARGET_DIR (default .bench_build), generates the
workload's input from the seed (gen.py), runs one JVM (perfbench.PerfBench),
checks the outputs with tools/check_oracle.py and prints each metric with its
unit, median, quartiles and sample count. The last line of stdout is one JSON
object: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/NOTES.md for the workloads and the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

TILE = ["q22_tiler_assign", "q29_makevalid", "q33_pipeline", "q35_simplify_dp",
        "q37_clip_line", "q43_mvt_tile_bytes", "q45_mvt_typed_tags"]
SCALE = ["q03_pip_join", "q53_pip_join_bigbig", "q55_extent_join", "q70_bucketed_pip",
         "q21_knn_cell"]
SCALE_REPLICAS = 4
# kNN and distance join queries that no workload runs (a third workload did
# not fit the run budget); every traced run measures and checks them per query
KNN_ONLY = ["q12_knn", "q54_distance_join"]

NPROC = len(os.sched_getaffinity(0))
# workload -> (queries, replicas, files, seconds of one pass on a 4-core host)
WORKLOADS = {
    "tile": (TILE, 4, 1, 7.0),
    "scale": (SCALE, SCALE_REPLICAS, max(NPROC, SCALE_REPLICAS), 10.0),
}
ALL_QUERIES = TILE + SCALE + KNN_ONLY
# the class-data archive is recorded while these run: one query per code path
TRAINING = ["q22_tiler_assign", "q43_mvt_tile_bytes", "q21_knn_cell", "q53_pip_join_bigbig",
            "q70_bucketed_pip"]

# oracles that are full cross products run over a seeded sample of query ids:
# query -> (anchor in the frozen oracle text, id predicate inserted after it,
#           SQL selecting the candidate ids from the oracle input)
SAMPLED = {
    "q21_knn_cell": ("lat >= 0 AND lat <= 40", " AND pid IN ({ids})",
                     "SELECT DISTINCT pid FROM pts WHERE lon >= -30 AND lon <= 30 "
                     "AND lat >= 0 AND lat <= 40"),
    "q54_distance_join": ("WHERE a.pid % 4 = 0", " AND a.pid IN ({ids})",
                          "SELECT DISTINCT pid FROM pts WHERE pid % 4 = 0"),
}
SAMPLE_IDS = 64
REPLICATION = ["q53_pip_join_bigbig", "q54_distance_join", "q55_extent_join", "q70_bucketed_pip"]
YIELD = ["q12_knn", "q21_knn_cell", "q53_pip_join_bigbig", "q54_distance_join",
         "q55_extent_join"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
SPARK_JARS = "/opt/spark/jars"
RUN_LIMIT_S = 150  # the JVM of one run; the oracle check comes after


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


# ---------------------------------------------------------------- build ----

def sources(root):
    return sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                  + glob.glob(os.path.join(root, "perfbench/scala/*.scala")))


def classpath(target):
    return [os.path.join(target, "perfbench.jar")] + sorted(
        glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def java(target, *extra):
    """The harness JVM command line, up to the main class."""
    return (["java", "-Xmx3g", "-XX:-UsePerfData", *extra] + ADD_OPENS
            + ["-cp", ":".join(classpath(target)), "perfbench.PerfBench"])


def build(root, target):
    """Compiles the program and the harness into one jar unless the sources
    are unchanged, then records a class-data-sharing archive of the classes a
    run loads (one untimed training run over every query), which takes about
    a third off every later run's start-up."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        die("no program sources under src/main/scala: run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        die(f"{SPARK_JARS} is missing")
    h = hashlib.sha256(",".join(TRAINING).encode())
    for s in srcs:
        h.update(s[len(root):].encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(target, "build.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    classes = os.path.join(target, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={target}",
                        "-cp", SPARK_JARS + "/*", "scala.tools.nsc.Main", "-nowarn",
                        "-usejavacp", "-classpath", classes, "-d", classes] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("compilation failed", 3)
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", classpath(target)[0], "-C", classes, "."],
                   check=True)
    log(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s")
    t0 = time.time()
    archive = os.path.join(target, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(target, "runs", "training")
    inp = gen.generate(os.path.join(work, "data"), 0, 1, 1)
    jvm(target, work, inp["dir"], TRAINING,
        {"passes": "1", "trace": "0", "seed": "0", "rows": str(inp["rows"])},
        time.time(), 300, f"-XX:ArchiveClassesAtExit={archive}")
    log(f"perfbench: class-data archive recorded in {time.time() - t0:.1f}s")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def jvm(target, work, data, queries, extra, t_start, limit, *opts):
    """Runs the harness; returns its result.json and arguments."""
    args = {"data": data, "queries": ",".join(queries), "nproc": str(NPROC),
            "out": os.path.join(work, "out"), "dump": os.path.join(work, "dump"),
            "warehouse": os.path.join(work, "warehouse"), "tmp": os.path.join(work, "tmp"),
            **extra}
    os.makedirs(args["tmp"], exist_ok=True)
    cmd = java(target, f"-Djava.io.tmpdir={args['tmp']}", *opts)
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as f:
        proc = subprocess.Popen(cmd + [f"{k}={v}" for k, v in args.items()],
                                stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(10, limit - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the run overran {limit}s (log: {logf})", 5)
    res = os.path.join(args["out"], "result.json")
    if proc.returncode != 0 or not os.path.exists(res):
        die(f"the JVM exited {proc.returncode} (log: {logf})", 5)
    with open(res) as f:
        return json.load(f), args


# --------------------------------------------------------------- oracle ----

def check_outputs(root, work, oracle_dir, dump, seed):
    """Bit-strict compare of every dumped output against its DuckDB oracle
    with tools/check_oracle.py; the cross-product oracles run over a seeded
    sample of query ids. Returns {query: "OK rows=N" or the mismatch}."""
    import duckdb
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                f"'{os.path.join(oracle_dir, 'lineitem.parquet')}')")
    for q, (anchor, pred, ids_sql) in SAMPLED.items():
        if q not in oracles:
            continue
        pts_cte = points_cte(oracles[q])
        ids = [r[0] for r in con.execute(f"WITH {pts_cte} {ids_sql} ORDER BY pid").fetchall()]
        ids = sorted(random.Random(seed).sample(ids, min(SAMPLE_IDS, len(ids))))
        id_list = ",".join(map(str, ids)) or "NULL"
        sql = oracles[q]
        if sql.count(anchor) != 1:
            die(f"{q}: oracle text changed; cannot place the id sample", 4)
        oracles[q] = sql.replace(anchor, anchor + pred.format(ids=id_list))
        qdir = os.path.join(dump, q)
        sampled = qdir + ".sampled"
        os.makedirs(sampled)
        con.execute(f"COPY (SELECT * FROM read_parquet('{qdir}/*.parquet') WHERE qid IN "
                    f"({id_list})) TO '{sampled}/part-0.parquet' (FORMAT PARQUET)")
        shutil.rmtree(qdir)
        os.rename(sampled, qdir)
    con.close()
    with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    cwd = os.path.join(work, "oracle_cwd")
    os.makedirs(cwd, exist_ok=True)
    r = subprocess.run([sys.executable, os.path.join(root, "tools/check_oracle.py"),
                        oracle_dir, dump], cwd=cwd, capture_output=True, text=True)
    verdict = {}
    for line in r.stdout.splitlines():
        name, _, msg = line.partition(": ")
        if name in oracles:
            verdict[name] = msg
    for q in oracles:
        verdict.setdefault(q, "no verdict: " + (r.stderr.strip().splitlines() or ["?"])[-1])
    return verdict


def points_cte(sql):
    """The `pts AS (...)` CTE (Synth.pointsCte) inside a frozen oracle."""
    start = sql.index("pts AS (")
    end = sql.index("FROM lineitem)", start) + len("FROM lineitem)")
    return sql[start:end]


# -------------------------------------------------------------- metrics ----

def stats(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


UNITS = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
         "heap_peak_mb": "MB", "failed_frac": "share"}
# printed, but not in the result: task CPU per pass spread 22-38 % across
# seeds (kNN fallback levels, JIT still compiling in the first timed passes)
UNGATED = {"cpu_s"}


def end_to_end(res, rows, failed_q):
    """Per-metric samples from the passes without a failed query; a
    failed warm-up gives no set-up sample. A failure is never a sample."""
    def clean(p):
        return all(q["ok"] and q["q"] not in failed_q for q in p["queries"])
    use = [p for p in res["passes"] if clean(p)]
    return {
        "setup_s": [res["setup_s"]] if clean(res["warmup"]) else [],
        "wall_s": [p["wall_s"] for p in use],
        "rows_per_s": [rows / p["wall_s"] for p in use],
        "cpu_s": [p["counters"]["cpu_s"] for p in use],
        "heap_peak_mb": [p["heap_peak_mb"] for p in use],
    }


def per_layer(res, workload_queries):
    m = {}
    traced = res["traced"]["queries"] + res.get("traced_other", {}).get("queries", [])
    by_q = {q["q"]: q for q in traced}
    for q in ALL_QUERIES:
        r = by_q[q]
        a = r["counters"]
        m[f"SparkEntry.{q}.wall_s"] = r["plan_s"] + r["action_s"]
        m[f"operators.{q}.jobs"] = a["jobs"]
        m[f"operators.{q}.shuffle_bytes"] = a["shuffle_bytes"]
        m[f"operators.{q}.cpu_s"] = a["cpu_s"]
        m[f"operators.{q}.driver_gap_s"] = r["driver_gap_s"]
    for q in REPLICATION:
        a, p = by_q[q]["counters"], by_q[q]["plan_counters"]
        # q70 writes its bucketed tables while the frame is built
        m[f"operators.{q}.replication"] = ((a["shuffle_records"] + p["shuffle_records"])
                                          / max(1, a["in_records"] + p["in_records"]))
    for q in YIELD:
        # a plan that shuffles nothing (the broadcast join path) wastes none
        shuffled = by_q[q]["counters"]["shuffle_records"]
        m[f"operators.{q}.yield"] = by_q[q]["out_rows"] / shuffled if shuffled else 1.0
    own = [by_q[q] for q in workload_queries]
    m["SparkEntry.plan_s"] = sum(r["plan_s"] for r in own)
    m["SparkEntry.plan_jobs"] = sum(r["plan_counters"]["jobs"] for r in own)
    c = res["traced"]["counters"]
    m["operators.tasks"] = c["tasks"]
    m["operators.sched_delay_s"] = c["sched_delay_s"]
    m["operators.gc_s"] = c["gc_s"]
    m["operators.spill_bytes"] = c["spill_bytes"]
    m["sources.scan_records"] = c["in_records"]
    m.update(res["layers"])
    o = res["overhead"]
    m["benchmark.trace_overhead_s"] = o["traced_wall_s"] - o["untraced_wall_s"]
    return m


def layer_units(name):
    last = name.rsplit(".", 1)[-1]
    return {"wall_s": "s", "plan_s": "s", "cpu_s": "s", "driver_gap_s": "s",
            "sched_delay_s": "s", "gc_s": "s", "write_bucketed_s": "s",
            "trace_overhead_s": "s", "rows_per_s": "rows/s", "us_per_row": "us/row",
            "alloc_bytes_per_row": "B/row", "write_bytes_per_row": "B/row",
            "shuffle_bytes": "B", "spill_bytes": "B", "kernel_share": "ratio",
            "replication": "ratio", "yield": "ratio"}.get(last, "count")


# ------------------------------------------------------------------ run ----

def run_workload(root, target, workload, seed, seconds, trace, extra=()):
    """One run; returns the result object, whose metrics are empty when a
    query execution failed."""
    t_start = time.time()
    queries, replicas, files, pass_s = WORKLOADS[workload]
    queries = queries + list(extra)
    work = os.path.join(target, "runs", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inp = gen.generate(os.path.join(work, "data"), seed, replicas, files)
    # a fixed pass count for about `seconds` of timed work, so that host
    # speed never changes how many samples a run takes
    passes = max(1, round(seconds / pass_s))
    extra_args = {"passes": str(passes), "trace": str(trace), "seed": str(seed),
                  "rows": str(inp["rows"])}
    other = None
    if trace:
        # every per-query name is reported (and its output checked) in every
        # traced run
        other = gen.generate(os.path.join(work, "data_x1"), seed, 1, 1)
        extra_args["other_data"] = other["dir"]
        extra_args["other_dump"] = os.path.join(work, "dump_other")
        extra_args["other_queries"] = ",".join(q for q in ALL_QUERIES if q not in queries)
        extra_args["count_rows"] = ",".join(YIELD)
    archive = os.path.join(target, "classes.jsa")
    res, args = jvm(target, work, inp["dir"], queries, extra_args, t_start, RUN_LIMIT_S,
                    f"-XX:SharedArchiveFile={archive}")
    verdict = check_outputs(root, work, inp["oracle_dir"], args["dump"], seed)
    if other:
        verdict.update(check_outputs(root, work, other["oracle_dir"], args["other_dump"], seed))
    failed_q = {q for q, v in verdict.items() if not v.startswith("OK")}

    executions = [res[k] for k in ("warmup", "traced", "after", "other_warmup", "traced_other")
                  if k in res]
    executions += res["passes"]
    attempted = failed = 0
    failures = []
    for p in executions:
        for q in p["queries"]:
            attempted += 1
            if not q["ok"] or q["q"] in failed_q:
                failed += 1
                failures.append((q["q"], q.get("error") or verdict.get(q["q"])))

    e2e = end_to_end(res, inp["rows"], failed_q)
    print(f"== {workload}: seed={seed} nproc={NPROC} rows={inp['rows']} files={inp['files']} "
          f"lineitem_bytes={inp['lineitem_bytes']} replicas={replicas} shift={inp['shift']}")
    for q in queries + [q for q in ALL_QUERIES if q in verdict and q not in queries]:
        print(f"   oracle {q}: {verdict.get(q, 'not checked')}")
    for q, why in sorted(set(failures)):
        print(f"   FAILED {q} (seed {seed}): {why}")
    for k, xs in e2e.items():
        if not xs:
            print(f"   {k:<13} {UNITS[k]:<7} no sample: a failed query in every pass")
            continue
        med, q1, q3 = stats(xs)
        print(f"   {k:<13} {UNITS[k]:<7} median={med:.6g} q1={q1:.6g} q3={q3:.6g} n={len(xs)}")
    print(f"   {'failed_frac':<13} {'share':<7} {failed / attempted:.6g} "
          f"({failed} of {attempted} query executions)")
    out = {"correct": not failures, "attempted": attempted, "failed": failed, "metrics": {}}
    if failures:
        return out  # no metric from a run with a failed execution; main exits 1
    if trace:
        layers = per_layer(res, queries)
        out["metrics"] = {k: {"value": v, "unit": layer_units(k)} for k, v in layers.items()}
        print(f"   tracing overhead: {layers['benchmark.trace_overhead_s']:.3f} s "
              f"(traced pass {res['overhead']['traced_wall_s']:.3f} s); spans: "
              f"{os.path.join(args['out'], 'trace.json')}")
    else:
        out["metrics"] = {k: {"value": stats(xs)[0], "unit": UNITS[k]}
                          for k, xs in e2e.items() if k not in UNGATED}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="add a query that always throws (self-check)")
    a = ap.parse_args()
    root = os.getcwd()
    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    build(root, target)
    extra = ["planted_failure"] if a.plant_failure else []
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    outs = {w: run_workload(root, target, w, a.seed, a.seconds, a.trace, extra)
            for w in names}
    print(json.dumps(outs[names[0]] if len(names) == 1 else outs))
    if not all(o["correct"] for o in outs.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
