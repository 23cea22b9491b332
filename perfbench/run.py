#!/usr/bin/env python3
"""The repo benchmark. One command runs a workload, checks its outputs and
prints every metric by name and unit; the last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload analytics_scan --seed 1 \
        --seconds 8 --trace 0
    python3 perfbench/run.py --smoke     # every workload once, on sf0.001

--trace 0 reports the end-to-end metrics; --trace 1 attaches Spark
listeners and reports the per-layer metrics. Set-up, the fixture and the
lake tables all live under the build directory (.bench_build by default,
or $CARGO_TARGET_DIR); see perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import metrics as M  # noqa: E402
import workloads  # noqa: E402

DATA = os.path.join(HERE, "data")
CORES = os.cpu_count() or 4
HEAP = "3g"
TIMEOUT_S = 170     # the whole run, build excluded

SCALE = "sf0.01"        # the fixture the workloads run on
SMOKE_SCALE = "sf0.001"  # --smoke runs every workload once on this one


def fixture(scale, name):
    """The fixture an operation or table reads: the kernels' own on a
    measured run, the run's scale otherwise and on --smoke."""
    if scale == SCALE and (name in workloads.KERNELS or name in workloads.KERNEL_TABLES):
        return workloads.KERNEL_FIXTURE
    return scale


def query_ops(names, scale):
    """Query operations, each told the fixture directory it reads."""
    for op in names:
        op["fixture"] = fixture(scale, op["name"])
        op["args"] = {"data": os.path.join(DATA, op["fixture"])}
    return names


def table_paths(workload, scale):
    return [os.path.join(DATA, fixture(scale, t), f"{t}.parquet")
            for t in workloads.TABLES[workload]]

COMMITS = {"create", "append", "props", "delete", "update", "merge"}
READS = {"read", "time_travel", "changes", "tail"}


def run_jvm(cp, spec, work, deadline):
    spec_path, out_path = os.path.join(work, "spec.json"), os.path.join(work, "out.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={CORES}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in build.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", spec_path, out_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"harness failed ({rc})")
    with open(out_path) as f:
        return json.load(f)


def run_workload(workload, seed, seconds, trace, scale, deadline):
    """Runs one workload in a fresh work directory; returns the op list,
    the harness's raw measurements and the output check's mismatches."""
    import duckdb
    data_dir = os.path.join(DATA, scale)
    if not os.path.isdir(data_dir):
        raise SystemExit(f"missing fixture {data_dir}")
    cp = build.build()
    work = os.path.join(build.build_dir(), "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    con = duckdb.connect()
    lake = workload == "lake_lifecycle"
    try:
        if lake:
            ops = workloads.lake_script(seed, *con.execute(
                "SELECT min(l_orderkey), max(l_orderkey) FROM "
                f"read_parquet('{data_dir}/lineitem.parquet')").fetchone())
            user_bytes = workloads.lake_inputs(con, data_dir, ops,
                                               os.path.join(work, "inputs"))
        else:
            ops = query_ops(workloads.shuffled(workloads.ANALYTICS_SCAN, seed), scale)
        spec = {"workload": workload, "data": data_dir, "work": work,
                "verify": os.path.join(work, "verify"), "seconds": seconds,
                "trace": bool(trace), "cores": CORES,
                "tables": table_paths(workload, scale), "ops": ops}
        raw = run_jvm(cp, spec, work, deadline)
        # the raw measurements of the last run, for inspection
        shutil.copy(os.path.join(work, "out.json"),
                    os.path.join(build.build_dir(), f"last-{workload}.json"))
        if lake:
            bad = check.check_lake(con, spec["verify"], ops)
            raw["user_bytes"] = user_bytes
            raw["live_plain_bytes"] = check.plain_bytes(
                con, "t", os.path.join(work, "live.parquet"))
        else:
            expected = {}
            for fx in {op["fixture"] for op in ops}:
                with open(os.path.join(HERE, "expected", f"{fx}.json")) as f:
                    expected[fx] = json.load(f)
            bad = check.check_queries(con, spec["verify"], ops, expected)
    finally:
        con.close()
        shutil.rmtree(work, ignore_errors=True)
    return ops, raw, bad


# ---- metrics ---------------------------------------------------------------

def timed(raw):
    """The cold pass and the warm passes; not the verification pass."""
    return [p for p in raw["passes"] if not p["verify"]]


def warm(raw):
    return timed(raw)[1:]


def op_walls(passes, kinds=None, pred=None):
    return [o["wall_s"] for p in passes for o in p["ops"]
            if not o["error"] and (kinds is None or o["kind"] in kinds)
            and (pred is None or pred(o))]


def end_to_end(raw):
    ws = warm(raw)
    return {
        "setup_s": (raw["setup_s"], "s"),
        "first_pass_s": (timed(raw)[0]["wall_s"], "s"),
        "makespan_s": (M.median([p["wall_s"] for p in ws]), "s"),
        "live_heap_peak_mb": (max(p["heap_after_gc_mb"] for p in timed(raw)), "MB"),
    }


def latencies(raw):
    """Per-operation latency over the warm passes, printed but not in the
    JSON result: a run holds a dozen or two samples, so the median moves
    with which operation sits in the middle and the tail can only be the
    highest percentile with ten samples beyond it (stated with n)."""
    ws = warm(raw)
    out = {}
    walls = op_walls(ws)
    out["op_p50_s"] = (M.median(walls), f"s (n={len(walls)})")
    for name, kinds in (("op", None), ("write", COMMITS)):
        walls = op_walls(ws, kinds)
        if walls:
            v, p = M.tail(walls)
            out[f"{name}_p90_s"] = (v, f"s (p{p} of n={len(walls)})")
    return out


def lake_level(raw):
    """Lake metrics; zero on workloads that commit nothing."""
    ws = warm(raw)
    writes = op_walls(ws, COMMITS)
    user = raw.get("user_bytes", 0)
    last = ws[-1]
    return {
        "write_p50_s": (M.median(writes), "s"),
        "read_p50_s": (M.median(op_walls(ws, READS)), "s"),
        # untraced passes: a traced pass's probes read the table too
        "write_amp": (M.median([M.write_amp(p["fs"]["bytes_written"], user)
                                for p in ws if not p["traced"]]), "ratio"),
        "space_amp": (M.space_amp(last.get("table_bytes", 0),
                                  raw.get("live_plain_bytes", 0)), "ratio"),
    }


def per_layer(raw):
    """Per-layer metrics from the traced warm passes: times and counts are
    per pass (mean over traced passes), latencies are p50 per call."""
    ws = warm(raw)
    traced = [p for p in ws if p["traced"]]
    untraced = [p for p in ws if not p["traced"]]
    n = max(1, len(traced))
    tr = raw["trace"]

    def spans(kind, o, t0):
        # listeners are attached on traced passes only, and op ids repeat
        # across passes: a span belongs to the op whose window it starts in
        return [x for x in tr[kind] if x["op"] == o["id"]
                and o["start_ms"] <= x[t0] <= o["end_ms"]]

    busy = gap = build_s = 0.0
    jobs = stages = tasks = failed_tasks = 0
    cpu_ns = run_ms = gc_ms = in_b = sr_b = sw_b = spill_b = 0
    skew = 1.0
    op_rows = []
    for p in traced:
        pj, ps = [], []
        for o in p["ops"]:
            oj = spans("jobs", o, "start_ms")
            pj += oj
            ps += spans("stages", o, "submit_ms")
            iv = [(j["start_ms"], j["end_ms"]) for j in oj]
            b, g = M.busy_and_gap(o["start_ms"], o["end_ms"], o["wall_s"], iv)
            busy += b
            gap += g
            build_s += o["build_s"]
            op_rows.append((o, len(iv)))
        jobs += len(pj)
        stages += len(ps)
        for s in ps:
            tasks += s["tasks"]
            failed_tasks += s["failed_tasks"]
            cpu_ns += s["cpu_ns"]
            run_ms += s["run_ms"]
            gc_ms += s["gc_ms"]
            in_b += s["input_b"]
            sr_b += s["shuffle_read_b"]
            sw_b += s["shuffle_write_b"]
            spill_b += s["spill_b"]
            skew = max(skew, M.skew(s["task_ms"]))
    # plan events carry no time; every one belongs to a traced pass, since
    # listeners are detached on all others
    an = sum(s["analysis_ms"] for s in tr["plans"]) / 1e3 / n
    opt = sum(s["optimization_ms"] for s in tr["plans"]) / 1e3 / n
    pl = sum(s["planning_ms"] for s in tr["plans"]) / 1e3 / n
    mb = 1048576.0
    commit_jobs = [c for (o, c) in op_rows if o["kind"] in COMMITS]

    def p50(kind):
        return M.median(op_walls(ws, {kind}))

    compacted = [o["wall_s"] for p in ws for o in p["ops"]
                 if o["kind"] == "append" and o["version_after"] > o["commit_version"] >= 0]
    fs = {k: M.median([p["fs"][k] for p in untraced]) for k in ws[0]["fs"]}
    scanned = [o for p in ws for o in p["ops"] if o.get("files_total", 0) > 0]
    last = ws[-1]
    out = {
        "ops.build_s": (build_s / n, "s"),
        "plan.analysis_s": (an, "s"),
        "plan.optimization_s": (opt, "s"),
        "plan.planning_s": (pl, "s"),
        "plan.executions": (len(tr["plans"]) / n, "count"),
        "plan.nodes": (sum(s["nodes"] for s in tr["plans"]) / n, "count"),
        "plan.gap_share": (M.ratio(an + opt + pl, gap / n), "ratio"),
        "exec.jobs": (jobs / n, "count"),
        "exec.stages": (stages / n, "count"),
        "exec.tasks": (tasks / n, "count"),
        "exec.busy_s": (busy / n, "s"),
        "exec.task_cpu_s": (cpu_ns / 1e9 / n, "s"),
        "exec.task_run_s": (run_ms / 1e3 / n, "s"),
        "exec.gc_s": (gc_ms / 1e3 / n, "s"),
        "exec.failed_tasks": (failed_tasks / n, "count"),
        "exec.cpu_frac": (M.ratio(cpu_ns / 1e9, busy * raw["cores"]), "ratio"),
        "exec.input_mb": (in_b / mb / n, "MB"),
        "exec.shuffle_read_mb": (sr_b / mb / n, "MB"),
        "exec.shuffle_write_mb": (sw_b / mb / n, "MB"),
        "exec.spill_mb": (spill_b / mb / n, "MB"),
        "exec.skew_max": (skew, "ratio"),
        "driver.gap_s": (gap / n, "s"),
        "driver.gap_per_job_ms": (M.ratio(gap * 1e3, jobs), "ms"),
        "sinks.append_s": (p50("append"), "s"),
        "sinks.merge_s": (p50("merge"), "s"),
        "sinks.delete_s": (p50("delete"), "s"),
        "sinks.update_s": (p50("update"), "s"),
        "sinks.compact_s": (M.median(compacted), "s"),
        "sinks.vacuum_s": (p50("vacuum"), "s"),
        "sinks.read_s": (p50("read"), "s"),
        "sinks.time_travel_s": (p50("time_travel"), "s"),
        "sinks.changes_s": (p50("changes"), "s"),
        "sinks.jobs_per_commit": (M.ratio(sum(commit_jobs), len(commit_jobs)), "count"),
        "sinks.files_read_frac": (M.ratio(sum(o["files_scanned"] for o in scanned),
                                          sum(o["files_total"] for o in scanned)), "ratio"),
        "sinks.live_files": (last.get("live_files", 0), "count"),
        "sinks.checkpoints": (M.median([p.get("checkpoints_seen", 0) for p in traced]), "count"),
        "sinks.schema_memo": (max(p.get("schema_memo", 0) for p in ws), "count"),
        "catalog.sql_dml_s": (M.median(op_walls(ws, None, lambda o: o["name"].endswith("_sql"))),
                              "s"),
        "streaming.tail_s": (p50("tail"), "s"),
        "streaming.tail_rows": (M.median([sum(o["rows"] for o in p["ops"] if o["kind"] == "tail")
                                          for p in ws]), "count"),
        "fs.files_written": (M.median([p.get("files_seen", 0) for p in traced]), "count"),
        "fs.bytes_read_mb": (fs["bytes_read"] / mb, "MB"),
        "fs.bytes_written_mb": (fs["bytes_written"] / mb, "MB"),
        "jvm.compile_s": (raw["jvm"]["compile_s"], "s"),
        "jvm.gc_s": (raw["jvm"]["gc_s"], "s"),
        "trace.overhead_s": (M.median([p["wall_s"] for p in traced])
                             - M.median([p["wall_s"] for p in untraced]), "s"),
    }
    out.update(lake_level(raw))
    return out


def result(workload, ops, raw, bad, trace):
    attempted = sum(len(p["ops"]) for p in raw["passes"])
    errors = {}
    for p in raw["passes"]:
        for o in p["ops"]:
            if o["error"]:
                errors.setdefault(o["name"], o["error"])
    names = {o["id"]: o["name"] for o in ops}
    mismatches = {names[i]: r for i, r in bad.items()}
    failed = sum(1 for p in raw["passes"] for o in p["ops"] if o["error"]) + len(bad)
    mets = per_layer(raw) if trace else end_to_end(raw)
    ws = warm(raw)
    print(f"# workload {workload}: {len(ops)} ops per pass; 1 cold, {len(ws)} warm "
          f"({sum(p['traced'] for p in ws)} traced) and 1 untimed verification pass; "
          f"nproc {raw['nproc']}, cores {raw['cores']}")
    print(f"# host: load {raw['host_start']['load']:.2f} -> {raw['host_end']['load']:.2f}, "
          f"calibration {raw['host_start']['calibration_s']:.3f} s -> "
          f"{raw['host_end']['calibration_s']:.3f} s")
    extra = {"failed_op_frac": (M.ratio(failed, attempted), "ratio")}
    if not trace:
        extra.update(latencies(raw))
        if workload == "lake_lifecycle":
            extra.update(lake_level(raw))
    for k, (v, unit) in list(mets.items()) + list(extra.items()):
        print(f"{k:26s} {v:14.6f} {unit}")
    for name, err in errors.items():
        print(f"# FAILED {name}: {err}")
    for name, reason in mismatches.items():
        print(f"# MISMATCH {name}: {reason}")
    return {"correct": not errors and not mismatches, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in mets.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.NAMES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on sf0.001 and check outputs")
    a = ap.parse_args()
    if a.smoke:
        ok = True
        for w in sorted(workloads.NAMES):
            ops, raw, bad = run_workload(w, a.seed, 0, 0, SMOKE_SCALE, time.time() + TIMEOUT_S)
            r = result(w, ops, raw, bad, 0)
            print(json.dumps(r))
            ok = ok and r["correct"]
        sys.exit(0 if ok else 1)
    if a.workload is None:
        ap.error("--workload is required")
    build.build()  # before the deadline starts: the first run builds
    deadline = time.time() + TIMEOUT_S
    ops, raw, bad = run_workload(a.workload, a.seed, a.seconds, a.trace, SCALE, deadline)
    print(json.dumps(result(a.workload, ops, raw, bad, a.trace)))


if __name__ == "__main__":
    main()
