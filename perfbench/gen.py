"""Seeded input generator.

The tables are the sf0.001 `lineitem` and `nation` kept in perfbench/data
(byte copies of the sf0.001 test tables, TESTDATA.md), with `l_orderkey` shifted by
offsets derived from the seed: the replica recipe of `graft.Scaling`. Every
geometry the queries read is a pure function of (l_orderkey, l_linenumber),
so a shift moves the points and keeps the row counts. Seed 0 shifts nothing
and reproduces the sf0.001 rows exactly.

Replica j of k gets offset shift(seed) + j * STRIDE, so orderkeys stay below
k * STRIDE (2^24 at k = 8). The largest `Synth` product, 69621 * l_orderkey,
stays far inside int64, and pid = 10 * l_orderkey + l_linenumber stays below
2^28: q45's oracle writes varints of at most five bytes, so pids of 2^35 and
up would make it predict wrong bytes.
"""
import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
STRIDE = 1 << 21  # > max base orderkey (1499) + max shift (2^20)
MAX_REPLICAS = 8


def shift(seed):
    if seed == 0:
        return 0
    h = hashlib.sha256(str(seed).encode()).digest()
    return 1 + int.from_bytes(h[:8], "little") % ((1 << 20) - 1)


def offset(seed, j):
    assert j < MAX_REPLICAS
    return shift(seed) + j * STRIDE


def lineitem(seed, replicas):
    base = pq.read_table(os.path.join(BASE, "lineitem.parquet"))
    i = base.schema.get_field_index("l_orderkey")
    return pa.concat_tables([
        base.set_column(i, "l_orderkey",
                        pc.add(base.column(i), pa.scalar(offset(seed, j), pa.int64())))
        for j in range(replicas)])


def generate(out, seed, replicas, files):
    """Writes `out`/{lineitem,nation}.parquet for Spark and, when lineitem is
    split into several files, `out`/oracle/ with single-file copies for the
    DuckDB oracle. Returns a description of what was written."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    li = lineitem(seed, replicas)
    li_path = os.path.join(out, "lineitem.parquet")
    oracle = out
    if files == 1:
        pq.write_table(li, li_path)
    else:
        os.makedirs(li_path)
        per_file = -(-li.num_rows // files)
        for f in range(files):
            pq.write_table(li.slice(f * per_file, per_file),
                           os.path.join(li_path, "part-%05d.parquet" % f))
        oracle = os.path.join(out, "oracle")
        os.makedirs(oracle)
        pq.write_table(li, os.path.join(oracle, "lineitem.parquet"))
    for d in {out, oracle}:
        shutil.copyfile(os.path.join(BASE, "nation.parquet"),
                        os.path.join(d, "nation.parquet"))
    size = (os.path.getsize(li_path) if files == 1 else
            sum(os.path.getsize(os.path.join(li_path, f)) for f in os.listdir(li_path)))
    return {"dir": out, "oracle_dir": oracle, "rows": li.num_rows, "files": files,
            "replicas": replicas, "shift": shift(seed), "lineitem_bytes": size}
