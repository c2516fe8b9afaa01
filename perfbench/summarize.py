"""Turn one run's raw record (the JVM's result.json plus the output
checks) into metrics, and a traced run's spans into per-layer self
time.

Stand-alone:
  python3 summarize.py <sidecar.json>                 per-layer self time
  python3 summarize.py <untraced.json> <traced.json>  tracing overhead
"""
import json
import math
import statistics
import sys


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def union_length(intervals):
    """Total length covered by possibly overlapping [t0, t1) intervals."""
    total, end = 0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def clip(iv, lo, hi):
    return (max(iv[0], lo), min(iv[1], hi))


def self_times(spans, jobs):
    """Self time per span: its duration minus the part its children
    cover. `spans` are (id, parent, name, t0, t1) of one op; `jobs` are
    (t0, t1) Spark job intervals, each made a child of the deepest span
    open at its start. Overlapping jobs under one parent merge into one
    `spark.jobs` segment, so self times add up to the root's duration.

    Returns [(name, self_time, duration)] with the job segments included.
    """
    by_id = {s[0]: s for s in spans}
    depth = {}

    def d(sid):
        if sid not in depth:
            p = by_id[sid][1]
            depth[sid] = 0 if p not in by_id else d(p) + 1
        return depth[sid]

    children = {s[0]: [] for s in spans}
    for s in spans:
        if s[1] in children:
            children[s[1]].append((s[3], s[4]))
    job_kids = {s[0]: [] for s in spans}
    for j in jobs:
        open_ = [s for s in spans if s[3] <= j[0] < s[4]]
        if open_:
            host = max(open_, key=lambda s: (d(s[0]), s[3]))
            job_kids[host[0]].append(clip(j, j[0], host[4]))
    out = []
    for s in spans:
        segs = merge(job_kids[s[0]])
        for a, b in segs:
            out.append(("spark.jobs", b - a, b - a))
        kids = [clip(c, s[3], s[4]) for c in children[s[0]] + segs]
        out.append((s[2], (s[4] - s[3]) - union_length(
            [c for c in kids if c[1] > c[0]]), s[4] - s[3]))
    return out


def merge(intervals):
    out = []
    for t0, t1 in sorted(intervals):
        if out and t0 <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], t1))
        else:
            out.append((t0, t1))
    return out


END_TO_END = ["setup_s", "ops_per_s", "op_geomean_s"]
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_geomean_s": "s"}


def geomean(xs):
    """Geometric mean of positive numbers (0.0 for none)."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(r):
    """The user-visible metrics of one untraced run."""
    durs = [(o["t1"] - o["t0"]) / 1e6 for o in r["ops"]]
    return {
        "setup_s": r["session_s"] + statistics.median(r["setup_rep_s"]),
        "ops_per_s": len(durs) / sum(durs) if durs else 0.0,
        "op_geomean_s": geomean(durs),
    }


def latency_by_kind(r):
    """Op count and latency percentiles per op kind, for the sidecar: a
    run holds too few ops of one kind for these to be gated metrics."""
    by = {}
    for o in r["ops"]:
        by.setdefault(o["kind"], []).append((o["t1"] - o["t0"]) / 1e6)
    return {k: {"n": len(v), "p50_s": percentile(v, 50),
                "p90_s": percentile(v, 90)} for k, v in sorted(by.items())}


FAMILIES = ["dedup", "text", "sim", "pipeline", "graph", "events", "other"]
SPAN_MS = {  # per-layer metric -> span name whose mean duration it is
    "etl.dsl.parse_ms": "etl.dsl.parse",
    "etl.dsl.compile_ms": "etl.dsl.compile",
    "etl.Engine.read_sheets_ms": "etl.Engine.read_sheets",
    "etl.Engine.transform_ms": "etl.Engine.transform",
    "etl.Engine.run_ms.plain": "etl.Engine.run.plain",
    "etl.Engine.run_ms.type": "etl.Engine.run.type",
    "etl.Engine.run_ms.join": "etl.Engine.run.join",
    "etl.Engine.run_ms.self": "etl.Engine.run.self",
    "queries.construct_ms": "queries.construct",
    "queries.execute_ms": "queries.execute",
}
SPAN_MS.update({f"queries.{f}.ms": f"queries.{f}" for f in FAMILIES})
FACTS = ["etl.history_files", "etl.filter_selectivity"]


def per_layer(r):
    """Per-layer metrics of one traced run: per-op means unless named
    otherwise; a layer the workload does not call reads 0."""
    ops = r["ops"]
    n = max(len(ops), 1)
    wins = [(o["t0"], o["t1"]) for o in ops]
    spans = r["spans"]
    # (id, parent, op, name, t0, t1); job/stage/query times are epoch ms
    jobs = [j for j in r["jobs"] if j["t1"] >= 0]
    stage_by_id = {s["stage"]: s for s in r["stages"]}

    def op_of(t_us):
        for k, (a, b) in enumerate(wins):
            if a <= t_us <= b:
                return k
        return None

    op_jobs = {k: [] for k in range(len(ops))}
    for j in jobs:
        k = op_of(j["t0"] * 1000)
        if k is not None:
            op_jobs[k].append(j)
    m = {}
    all_jobs = [j for js in op_jobs.values() for j in js]
    stages = [stage_by_id[s] for j in all_jobs for s in j["stages"]
              if s in stage_by_id]
    m["spark.jobs_per_op"] = len(all_jobs) / n
    gaps = []
    serial = []
    for k, (a, b) in enumerate(wins):
        ivs = [clip((j["t0"] * 1000, j["t1"] * 1000), a, b) for j in op_jobs[k]]
        gaps.append((b - a - union_length([iv for iv in ivs if iv[1] > iv[0]])) / 1000)
        st = [stage_by_id[s] for j in op_jobs[k] for s in j["stages"]
              if s in stage_by_id]
        serial.append(max([s["t1"] - s["t0"] for s in st
                           if s["tasks"] <= 2 and s["t0"] >= 0] or [0]))
    m["spark.driver_gap_ms_per_op"] = sum(gaps) / n
    cons = [(s[4], s[5]) for s in spans if s[3] == "queries.construct"]
    m["spark.construct_jobs_per_op"] = sum(
        1 for j in all_jobs if any(a <= j["t0"] * 1000 < b for a, b in cons)) / n
    m["spark.stages_per_op"] = len(stages) / n
    m["spark.tasks_per_op"] = sum(s["tasks"] for s in stages) / n
    m["spark.serial_stage_ms_per_op"] = sum(serial) / n
    plan_ms = sum(q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]
                  for q in r["queries"] if op_of(q["t0"] * 1000) is not None)
    m["spark.plan_ms_per_op"] = plan_ms / n
    m["spark.exec_cpu_ms_per_op"] = sum(s["cpu_ns"] for s in stages) / 1e6 / n
    m["spark.exec_run_ms_per_op"] = sum(s["run_ms"] for s in stages) / n
    m["spark.input_bytes_per_op"] = sum(s["in_bytes"] for s in stages) / n
    result_rows = sum(max(o["rows"], 0) for o in ops)
    m["spark.input_records_per_result_row"] = (
        sum(s["in_records"] for s in stages) / max(result_rows, 1))
    m["spark.shuffle_write_bytes_per_op"] = sum(s["sw_bytes"] for s in stages) / n
    m["spark.shuffle_read_bytes_per_op"] = sum(s["sr_bytes"] for s in stages) / n
    m["spark.spill_bytes_per_op"] = sum(s["spill_bytes"] for s in stages) / n
    m["jvm.gc_ms_per_op"] = sum(
        ms for end, ms in r["gc_pauses"] if op_of(end * 1000) is not None) / n
    # the largest heap after a GC in the timed loop: whether a GC lands
    # on a query's memory peak varies from run to run, so it is a
    # layer figure, not a gated end-to-end one
    m["jvm.heap_live_peak_mb"] = r["heap_live_peak_mb"]
    for metric, name in SPAN_MS.items():
        # every span of the name: the etl decomposition calls run after
        # their op's clock stops, so they carry no op (-1)
        ds = [(s[5] - s[4]) / 1000 for s in spans if s[3] == name]
        m[metric] = sum(ds) / len(ds) if ds else 0.0
    for f in FAMILIES:
        fam = [(s[4], s[5]) for s in spans if s[3] == f"queries.{f}"]
        m[f"queries.{f}.jobs"] = (sum(
            1 for j in all_jobs if any(a <= j["t0"] * 1000 < b for a, b in fam))
            / len(fam)) if fam else 0.0
    for f in FACTS:
        vs = [o["facts"][f] for o in ops if f in o.get("facts", {})]
        m[f] = sum(vs) / len(vs) if vs else 0.0
    # workload outcomes: source rows mapped per second of op time, and
    # the persisted index bytes the battery's index-served queries leave
    total = sum(o["t1"] - o["t0"] for o in ops) / 1e6
    src = sum(o.get("facts", {}).get("source_rows", 0) for o in ops)
    m["etl.rows_per_s"] = src / total if src and total else 0.0
    m["ext.index_disk_mb"] = r.get("end", {}).get("index_disk_mb", 0.0)
    return m


def layer_table(r):
    """Per-layer self time and counts over all ops of a traced run, and
    the share of op wall time they account for."""
    jobs = [(j["t0"] * 1000, j["t1"] * 1000) for j in r["jobs"] if j["t1"] >= 0]
    by_op = {}
    for s in r["spans"]:
        if s[2] >= 0:
            by_op.setdefault(s[2], []).append((s[0], s[1], s[3], s[4], s[5]))
    table, wall = {}, 0
    for o in r["ops"]:
        sp = by_op.get(o["i"], [])
        wall += o["t1"] - o["t0"]
        js = [j for j in jobs if o["t0"] <= j[0] <= o["t1"]]
        for name, self_us, _ in self_times(sp, js):
            if name.startswith("op."):
                name = "op (driver, outside layer calls)"
            t = table.setdefault(name, [0.0, 0])
            t[0] += self_us / 1000
            t[1] += 1
    accounted = sum(t[0] for t in table.values()) / (wall / 1000) if wall else 0.0
    return table, accounted


def overhead(untraced, traced):
    """Tracing overhead: traced minus untraced end-to-end metrics."""
    a, b = untraced["metrics_e2e"], traced["metrics_e2e"]
    return {k: b[k] - a[k] for k in a if k in b}


def main(argv):
    docs = [json.load(open(p)) for p in argv]
    if len(docs) == 1:
        table, acc = layer_table(docs[0]["raw"])
        for name, (ms, cnt) in sorted(table.items(), key=lambda kv: -kv[1][0]):
            print(f"{name:45s} self {ms:10.1f} ms  count {cnt}")
        print(f"self time accounts for {acc:.4f} of op wall time")
    else:
        for k, v in overhead(docs[0], docs[1]).items():
            print(f"tracing overhead {k}: {v:+.4f} {UNITS.get(k, '')}")


if __name__ == "__main__":
    main(sys.argv[1:])
