"""The workloads. Each turns a seed into the operation list of one
pass; every pass of a run repeats that list. The set of operations is
fixed per workload and only their order and parameters follow the seed,
so runs with different seeds measure the same amount of work."""
import os
import random

# Read-only queries in seeded order; never touches graft.sinks. Half are
# short plans over the sf0.01 star schema and events table, where Catalyst
# planning and the fixed cost of each Spark action dominate: an aggregate,
# SQL subqueries, sessionization. The other half are the shuffle- and
# CPU-heavy LLM-data kernels (graft.functions, MinHash LSH band joins, IVF,
# heavy hitters) over KERNEL_FIXTURE. The set is fixed and sized so that a
# run fits two warm passes (about seven seconds each on four cores).
ANALYTICS_SCAN = [
    "q01_agg_pricing_summary", "q47_sql_subqueries", "e03_sessionization",
    "d10_near_dup_lsh", "s03_knn_ivf", "t19_heavy_hitters",
]

KERNELS = {"d10_near_dup_lsh", "s03_knn_ivf", "t19_heavy_hitters"}
# sf0.1's documents and embeddings, each cut into four files of
# contiguous rows: one small file is one scan task, so at sf0.01 every
# stage of the kernels ran a single task; four files give their scans four
KERNEL_FIXTURE = "sf0.1-split4"
KERNEL_TABLES = {"documents", "embeddings"}

# Checked for row count only: a Misra-Gries estimate depends on
# partitioning, so it has no SQL twin (like q14, q52 and t15, which are not
# in the workload).
ROWS_ONLY = {"t19_heavy_hitters"}


# the fixture tables each workload reads, registered at set-up; the first
# one also takes the set-up's warm-up query
TABLES = {
    "analytics_scan": ["customer", "orders", "lineitem", "events",
                       "documents", "embeddings"],
    "lake_lifecycle": ["lineitem"],
}
NAMES = tuple(sorted(TABLES))

SLICES = 8  # lineitem is cut into this many contiguous l_orderkey ranges
COMPACT_FILES = 16  # files of the third append, and auto-compaction's minFiles


def shuffled(names, seed):
    order = list(names)
    random.Random(seed).shuffle(order)
    return [{"id": i, "name": n, "kind": "query"} for i, n in enumerate(order)]


# lineitem's columns as a spreadsheet export names them; the ETL path
# sanitizes these and renames them back (the reference's rename map)
EXPORT_NAMES = {
    "l_orderkey": "L Orderkey", "l_partkey": "L-Partkey",
    "l_suppkey": "L/Suppkey", "l_linenumber": "L Linenumber (%)",
    "l_quantity": "L Quantity ($)", "l_extendedprice": "L Extendedprice?",
    "l_discount": "L\\Discount", "l_tax": "L Tax",
    "l_returnflag": "L Returnflag", "l_linestatus": "L Linestatus",
    "l_shipdate": "L Shipdate"}
CASTS = {"l_linenumber": "bigint"}
# lineitem has no primary key; these columns are unique but for a few rows,
# which a merge source leaves out
MERGE_KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]


def lake_script(seed, okey_min, okey_max):
    """One pass of lake_lifecycle on a fresh table: ETL appends of lineitem
    slices, copy-on-write then merge-on-read delete/update/merge (each once
    through the DataFrame API and once as SQL), point, range, time-travel,
    change-feed and streaming-tail reads, auto-compaction, a checkpoint
    every 10 commits, and vacuum. Inputs are described here and written by
    lake_inputs."""
    rng = random.Random(seed)
    width = (okey_max + 1 - okey_min + SLICES - 1) // SLICES
    cuts = [(okey_min + k * width, okey_min + (k + 1) * width) for k in range(SLICES)]
    a, b, c = rng.sample(cuts, 3)

    ops = []

    def add(kind, name=None, **args):
        ops.append({"id": len(ops), "name": name or kind, "kind": kind, "args": args})
        return len(ops) - 1

    def append(s, files=3):
        return add("append", lo=s[0], hi=s[1], files=files)

    # each delete and update hits its own 1/16 of the orders, each merge
    # its own 1/64 (some keys match, some insert)
    residues = iter(rng.sample(range(16), 4))

    def dml(mode, via):
        add("delete", f"delete_{mode}_{via['delete']}", via=via["delete"],
            pred=f"l_orderkey % 16 = {next(residues)} AND l_quantity > 25")
        add("update", f"update_{mode}_{via['update']}", via=via["update"],
            pred=f"l_orderkey % 16 = {next(residues)}",
            set={"l_returnflag": "'U'", "l_quantity": "l_quantity + 2"})
        add("merge", f"merge_{mode}_{via['merge']}", via=via["merge"],
            pred=f"l_orderkey % 64 = {rng.randrange(64)}",
            set={"l_quantity": "l_quantity + 3"})

    add("create", lo=a[0], hi=a[1], files=1,
        # compaction waits for the third append, so that the skipping
        # reads before it see files of two slices; that append alone
        # writes COMPACT_FILES files, so it fires there on every seed (the
        # small files the DML leaves before it vary with the seed)
        props={"graft.autoCompact.enabled": "true", "graft.autoCompact.minFiles": str(COMPACT_FILES)})
    first = append(a)
    add("tail")
    second = append(b)
    add("tail")
    add("read", "read_point", pred=f"l_orderkey = {rng.randrange(*a)}")
    # each kind runs once through the API and once as SQL; fixed, because
    # the two surfaces cost differently and every seed must do equal work
    dml("cow", {"delete": "api", "update": "sql", "merge": "api"})
    add("time_travel", at_op=rng.choice([first, second]))
    lo = rng.randrange(b[0], b[1] - width // 4)
    add("read", "read_range", pred=f"l_orderkey BETWEEN {lo} AND {lo + width // 4}")
    add("props", "props_mor", props={"graft.delete.mode": "merge-on-read",
                                     "graft.update.mode": "merge-on-read",
                                     "graft.merge.mode": "merge-on-read"})
    dml("mor", {"delete": "sql", "update": "api", "merge": "sql"})
    before = len(ops) - 1
    last = append(c, COMPACT_FILES)
    add("changes", after_op=before, to_op=last)
    add("vacuum")
    add("read", "read_snapshot")
    return ops


def lake_inputs(con, data_dir, ops, inputs_dir):
    """Writes the files a lake pass loads: each append's lineitem slice as
    exported (export column names, source types) and each merge's source.
    Adds their paths to the ops; returns their total bytes, the user data
    a pass commits."""
    os.makedirs(inputs_dir, exist_ok=True)
    li = f"read_parquet('{data_dir}/lineitem.parquet')"
    total = 0
    for op in ops:
        a = op["args"]
        path = os.path.join(inputs_dir, f"{op['id']}.parquet")
        if op["kind"] in ("create", "append"):
            cols = ", ".join(f'{c} AS "{n}"' for c, n in EXPORT_NAMES.items())
            sql = (f"SELECT {cols} FROM {li} "
                   f"WHERE l_orderkey >= {a['lo']} AND l_orderkey < {a['hi']}")
            a.update(rename={n: c for c, n in EXPORT_NAMES.items()}, casts=CASTS)
        elif op["kind"] == "merge":
            cols = ", ".join(f"CAST({a['set'].get(c, c)} AS {CASTS[c]}) AS {c}" if c in CASTS
                             else f"{a['set'].get(c, c)} AS {c}" for c in EXPORT_NAMES)
            sql = (f"SELECT {cols} FROM {li} WHERE {a['pred']} "
                   f"QUALIFY count(*) OVER (PARTITION BY {', '.join(MERGE_KEY)}) = 1")
            a.update(key=MERGE_KEY)
        else:
            continue
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        a["path"] = path
        if op["kind"] != "create":
            total += os.path.getsize(path)
    return total
