#!/usr/bin/env python3
"""Self-checks of the benchmark itself (not of the program).

usage (from the repository root): python3 perfbench/selfcheck.py

  1. the same seed gives identical generated rows, and seed 0 gives the
     sf0.001 rows kept in perfbench/data;
  2. another seed moves the points but keeps the row counts;
  3. the seed offsets keep every Synth integer product inside int64 and every
     pid inside the five-byte varints of q45's oracle;
  4. a planted throwing query is counted as failed, gives no metric and
     makes the run exit 1;
  5. operators.<q>.jobs and SparkEntry.plan_jobs repeat exactly at a fixed
     seed (two traced runs).

Takes about five minutes; the generated files go under $CARGO_TARGET_DIR
(default .bench_build).
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

TARGET = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
OK = True


def check(name, cond, detail=""):
    global OK
    OK &= bool(cond)
    print(f"{'PASS' if cond else 'FAIL'} {name}{': ' + detail if detail else ''}", flush=True)


def lon_index(t):
    """Synth.points' longitude lattice index."""
    ok = t.column("l_orderkey").to_numpy()
    ln = t.column("l_linenumber").to_numpy().astype("int64")
    return (ok * 48271 + ln * 1117) % 100000


def bench(*args, code=0):
    """run.py's result, or None when it exits with another code than `code`."""
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True)
    if r.returncode != code:
        sys.stderr.write(r.stderr)
        return None
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    d = os.path.join(TARGET, "selfcheck")
    a = pq.read_table(os.path.join(gen.generate(d + "/a", 7, 1, 1)["dir"], "lineitem.parquet"))
    b = pq.read_table(os.path.join(gen.generate(d + "/b", 7, 1, 1)["dir"], "lineitem.parquet"))
    check("same seed, identical rows", a.equals(b))
    z = pq.read_table(os.path.join(gen.generate(d + "/z", 0, 1, 1)["dir"], "lineitem.parquet"))
    check("seed 0 reproduces the sf0.001 rows",
          z.equals(pq.read_table(os.path.join(gen.BASE, "lineitem.parquet"))))

    c = pq.read_table(os.path.join(gen.generate(d + "/c", 8, 1, 1)["dir"], "lineitem.parquet"))
    moved = (lon_index(a) != lon_index(c)).mean()
    check("another seed keeps the row count", a.num_rows == c.num_rows,
          f"{a.num_rows} vs {c.num_rows}")
    check("another seed moves the points", moved > 0.9, f"{moved:.3f} of longitudes moved")

    max_key = (1 << 20) + (gen.MAX_REPLICAS - 1) * gen.STRIDE + 1500
    check("offsets stay inside int64 and the oracles' varints",
          max_key * 69621 < 2 ** 63 and max_key * 10 + 7 < 2 ** 35,
          f"largest l_orderkey {max_key}")

    r = bench("--workload", "scale", "--seed", "3", "--seconds", "0", "--plant-failure", code=1)
    planted = 2  # the warm-up pass and one timed pass
    check("planted failure counted, no metric", r is not None and r["failed"] == planted
          and not r["correct"] and not r["metrics"],
          json.dumps(r and {k: r[k] for k in ("failed", "attempted", "metrics")}))

    runs = [bench("--workload", "scale", "--seed", "3", "--seconds", "0", "--trace", "1")
            for _ in range(2)]
    if None in runs:
        check("jobs repeat at a fixed seed", False, "a traced run failed")
    else:
        keys = [k for k in runs[0]["metrics"]
                if k.endswith(".jobs") or k == "SparkEntry.plan_jobs"]
        diff = [k for k in keys if runs[0]["metrics"][k] != runs[1]["metrics"][k]]
        check("jobs repeat at a fixed seed", keys and not diff,
              f"{len(keys)} counters" + (f", differ: {diff}" if diff else ""))
    sys.exit(0 if OK else 1)


if __name__ == "__main__":
    main()
