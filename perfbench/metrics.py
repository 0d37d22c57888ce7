"""Turns the JVM runner's records into the benchmark's metrics.

Every op is timed as build + action; the action splits into plan (the
planning phases of its query executions, clipped to the action) and
exec (the rest).  Per-op numbers are reduced per op name (a query, or a
statement kind of the transactional lifecycle) and summed over names,
so each figure describes one pass over the workload's op mix: times use
the median over the name's samples, per-layer figures the mean (means
add up, so build.s + plan.s + exec.s is the traced pass's seconds).  A
run times one fixed pass, so a name has one sample unless a workload
repeats it.
"""
from collections import defaultdict

import stats

END_TO_END = ["setup_s", "wall_s", "op_geomean_s", "read_p50_s"]
PER_LAYER = [
    "build.s", "build.jobs", "build.no_job_s",
    "plan.s", "plan.nodes", "plan.exchanges",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.no_job_s",
    "exec.task_cpu_s", "exec.task_run_s", "exec.gc_s", "exec.core_util",
    "exec.task_wait_s", "exec.task_skew", "exec.failed_tasks",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "scan.bytes", "scan.rows",
    "sources.commits", "sources.fs_create", "sources.fs_open", "sources.fs_rename",
    "sources.fs_delete", "sources.fs_list", "sources.fs_status", "sources.fs_mkdirs",
    "sources.meta_ops_per_commit", "sources.bytes_written", "sources.write_amp",
    "sources.read_file_frac", "scratch.bytes",
    "write_p50_s", "rows_written_per_s", "space_amp", "check.op_fail_frac",
    "heap_live_peak_mb", "trace.wall_s",
]


def unit(name):
    if name == "rows_written_per_s":
        return "rows/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes") or name == "sources.bytes_written":
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_util", "_amp", "_skew", "_per_commit")):
        return "ratio"
    return "count"


def timed_ok(result):
    return [r for r in result["ops"] if r["timed"] and r["ok"]]


def op_seconds(r):
    return r["build_s"] + r["act_s"]


def by_name(recs, value):
    g = defaultdict(list)
    for r in recs:
        g[r["name"]].append(value(r))
    return g


def end_to_end(result):
    recs = timed_ok(result)
    med = {n: stats.median(v) for n, v in by_name(recs, op_seconds).items()}
    return {
        "setup_s": result["setup_s"],
        "wall_s": sum(med.values()),
        "op_geomean_s": stats.geomean(med.values()),
        "read_p50_s": stats.median([op_seconds(r) for r in recs if r["cls"] == "read"]),
    }


def _attribute_jobs(result):
    """op seq -> its jobs.  Jobs carry the op id the client thread set;
    a job started from a thread without it goes to the op whose
    interval holds its start."""
    ops = result["ops"]
    out = defaultdict(list)
    for j in result["jobs"]:
        if j["op"]:
            out[int(j["op"])].append(j)
            continue
        for r in ops:
            if r["start"] <= j["start"] <= r["end"]:
                out[r["seq"]].append(dict(j, layer="build" if j["start"] < r["build_end"] else "exec"))
                break
    return out


def per_op_layers(result):
    """seq -> layer figures for each timed, successful op."""
    jobs = _attribute_jobs(result)
    stages = {s["id"]: s for s in result["stages"]}
    owner = {}
    for j in sorted(result["jobs"], key=lambda x: x["id"]):
        for sid in j["stages"]:
            owner.setdefault(sid, j["id"])
    phases = [(p[0], p[1], q) for q in result["qes"] for p in q["phases"]]
    cores = result["cores"]
    out = {}
    for r in timed_ok(result):
        lo, mid, hi = r["start"], r["build_end"], r["end"]
        js = jobs.get(r["seq"], [])
        spans = [(j["start"], j["end"] if j["end"] >= 0 else hi) for j in js]
        plan_iv = stats.clip([(a, b) for a, b, _ in phases], mid, hi)
        plan_s = min(stats.union_length(plan_iv) / 1e3, r["act_s"])
        qes = [q for a, b, q in phases if b > mid and a < hi]
        st = [stages[sid] for j in js for sid in j["stages"]
              if sid in stages and owner.get(sid) == j["id"] and stages[sid]["tasks"] > 0]
        ratios = [s["max_ms"] / s["median_ms"] for s in st
                  if s["tasks"] > 1 and s["median_ms"] > 0]
        op_s = op_seconds(r)
        run_s = sum(s["run_ms"] for s in st) / 1e3
        f = {
            "build.s": r["build_s"],
            "build.jobs": sum(1 for j in js if j["layer"] == "build"),
            "build.no_job_s": stats.self_time((lo, mid), spans) / 1e3,
            "plan.s": plan_s,
            "plan.nodes": max((q["nodes"] for q in qes), default=0),
            "plan.exchanges": max((q["exchanges"] for q in qes), default=0),
            "exec.s": r["act_s"] - plan_s,
            "exec.jobs": sum(1 for j in js if j["layer"] == "exec"),
            "exec.stages": len(st),
            "exec.tasks": sum(s["tasks"] for s in st),
            "exec.no_job_s": stats.self_time((mid, hi), spans + plan_iv) / 1e3,
            "exec.task_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "exec.task_run_s": run_s,
            "exec.gc_s": sum(s["gc_ms"] for s in st) / 1e3,
            "exec.core_util": run_s / (op_s * cores) if op_s > 0 else 0.0,
            "exec.task_wait_s": sum(s["wait_ms"] for s in st) / 1e3,
            "exec.task_skew": max(ratios, default=1.0),
            "exec.failed_tasks": sum(s["failed_tasks"] for s in st),
            "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
            "exec.spill_bytes": sum(s["spill"] for s in st),
            "scan.bytes": sum(s["in_bytes"] for s in st),
            "scan.rows": sum(s["in_rows"] for s in st),
            "sources.commits": r.get("commits", 0),
        }
        for k in ("create", "open", "rename", "delete", "list", "status", "mkdirs"):
            f["sources.fs_" + k] = r["fs"].get(k, 0)
        f["sources.bytes_written"] = r["fs"].get("bytes_written", 0)
        out[r["seq"]] = f
    return out


def per_layer(result, layers, extra):
    """Per-pass layer figures: per name, the mean over its samples;
    summed over names.  Maxima (skew) and ratios are taken over the
    run.  ``extra`` carries what was measured outside the JVM for the
    transactional workload (the output of ``writes`` and the table
    root).  ``check.op_fail_frac`` is the caller's."""
    recs = [r for r in timed_ok(result) if r["seq"] in layers]
    names = by_name(recs, lambda r: layers[r["seq"]])
    keys = next(iter(layers.values())).keys() if layers else []
    out = {}
    for k in keys:
        if k == "exec.task_skew":
            out[k] = max(f[k] for f in layers.values())
        elif k == "exec.core_util":
            continue
        else:
            out[k] = sum(sum(f[k] for f in fs) / len(fs) for fs in names.values())
    secs = out.get("build.s", 0) + out.get("plan.s", 0) + out.get("exec.s", 0)
    out["exec.core_util"] = out.get("exec.task_run_s", 0) / (secs * result["cores"]) if secs else 0.0
    writes = [r for r in recs if r["cls"] == "write"]
    meta = sum(layers[r["seq"]]["sources.fs_" + k] for r in writes
               for k in ("rename", "delete", "list", "status", "mkdirs"))
    commits = sum(layers[r["seq"]]["sources.commits"] for r in writes)
    out["sources.meta_ops_per_commit"] = meta / commits if commits else 0.0
    fracs = []
    for r in recs:
        if r["kind"] == "read" and extra.get("root"):
            opened = {p for p in r["opened"] if _data_file(p, extra["root"])}
            live = {p for p in r["live"] if _data_file(p, extra["root"])}
            if live:
                fracs.append(len(opened & live) / len(live))
    out["sources.read_file_frac"] = sum(fracs) / len(fracs) if fracs else 0.0
    user_bytes = extra.get("bytes_per_row", 0.0) * extra.get("rows_written", 0)
    wbytes = sum(layers[r["seq"]]["sources.bytes_written"] for r in writes)
    out["sources.write_amp"] = wbytes / user_bytes if user_bytes else 0.0
    for k in ("write_p50_s", "rows_written_per_s", "space_amp"):
        out[k] = extra.get(k, 0.0)
    out["scratch.bytes"] = result["scratch_bytes"]
    out["trace.wall_s"] = end_to_end(result)["wall_s"]
    out["heap_live_peak_mb"] = result["heap_live_peak_mb"]
    return out


def _data_file(path, root):
    return path.startswith(root) and path.endswith(".parquet")


def writes(result, rows_written, table_bytes, copy_bytes, copy_rows):
    """Write-side outcomes of the transactional workload."""
    recs = [r for r in timed_ok(result) if r["cls"] == "write"]
    secs = sum(op_seconds(r) for r in recs)
    rows = sum(rows_written.get(r["seq"], 0) for r in recs)
    return {
        "write_p50_s": stats.median([op_seconds(r) for r in recs]),
        "rows_written_per_s": rows / secs if secs else 0.0,
        "space_amp": stats.space_amp(table_bytes, copy_bytes),
        "bytes_per_row": copy_bytes / copy_rows if copy_rows else 0.0,
        "rows_written": rows,
    }
