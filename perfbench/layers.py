"""Per-layer figures from a traced run's record.

Spans nest run -> step -> layer call; each Spark job becomes a child of
the span whose id it carries as a job-group local property or, when it
has none (jobs started on a stream or worker thread), of the shortest
span that contains its start. A node's self time is its duration minus
the time its children cover (the union of their intervals, clipped to
the node). Only spans and jobs inside the measured window count, and
the metrics are per pass of the workload.
"""
import glob
import json
import os

LAYERS = ["step", "queries", "catalyst", "sources", "streaming", "pipeline",
          "operators", "spark"]
# per-layer metrics that are ratios, end states or already per pass;
# every other one is summed over the window and reported per pass
NOT_SUMS = {"spark.empty_task_frac", "sources.versions", "sources.files_live",
            "sources.write_amp", "sources.space_amp", "trace.wall_s"}


def union_length(intervals):
    """Total length covered by possibly overlapping [a, b) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(nodes, parent_of):
    """{node id: duration - union of children's clipped intervals}."""
    children = {}
    for nid, pid in parent_of.items():
        children.setdefault(pid, []).append(nid)
    out = {}
    for nid, (t0, t1) in nodes.items():
        kids = [(max(nodes[k][0], t0), min(nodes[k][1], t1)) for k in children.get(nid, [])]
        out[nid] = (t1 - t0) - union_length([k for k in kids if k[1] > k[0]])
    return out


def attribute_jobs(spans, jobs):
    """Parent span id for every job: its property, else time containment."""
    by_id = {s["id"]: s for s in spans}
    parents = {}
    for j in jobs:
        if j["span"] in by_id:
            parents[j["id"]] = j["span"]
            continue
        holders = [s for s in spans if s["t0"] <= j["t0"] <= s["t1"]]
        if holders:
            parents[j["id"]] = min(holders, key=lambda s: s["t1"] - s["t0"])["id"]
    return parents


def analyse(rec, wall_s):
    """(per-layer table, per-layer metrics {name: (value, unit)})."""
    tr = rec["trace"]
    w0, w1 = rec["window"]
    spans = [s for s in tr["spans"] if w0 <= s["t0"] and s["t1"] <= w1 and s["layer"] != "run"]
    jobs = [j for j in tr["jobs"] if w0 <= j["t0"] <= w1 and j["t1"] >= j["t0"]]
    stages = {s["id"]: s for s in tr["stages"]}
    job_stages = [stages[i] for j in jobs for i in j["stages"] if i in stages]

    nodes, layer_of, parent_of = {}, {}, {}
    for s in spans:
        key = ("s", s["id"])
        nodes[key] = (s["t0"], s["t1"])
        layer_of[key] = s["layer"]
        if s["parent"]:
            parent_of[key] = ("s", s["parent"])
    for jid, sid in attribute_jobs(spans, jobs).items():
        parent_of[("j", jid)] = ("s", sid)
    for j in jobs:
        nodes[("j", j["id"])] = (j["t0"], j["t1"])
        layer_of[("j", j["id"])] = "spark"
    parent_of = {k: v for k, v in parent_of.items() if v in nodes}
    selfs = self_times(nodes, parent_of)

    tasks = sum(s["tasks"] for s in job_stages)
    sched = sum(s["first_launch"] - s["submitted"] for s in job_stages
                if s["tasks"] and s["first_launch"] >= s["submitted"] >= 0) / 1e9
    table = {}
    for layer in LAYERS:
        mine = [k for k in nodes if layer_of[k] == layer]
        busy = union_length([nodes[k] for k in mine]) / 1e9
        own = sum(selfs[k] for k in mine) / 1e9
        # a layer waits on its children; Spark jobs wait on the scheduler
        table[layer] = {"count": len(mine), "busy_s": busy, "self_s": own,
                        "wait_s": sched if layer == "spark" else busy - own}
    passes = sum(b - a for a, b in rec["passes"]) / 1e9
    table["harness"] = {"count": len(rec["passes"]), "busy_s": passes,
                        "self_s": passes - union_length([nodes[k] for k in nodes
                                                         if layer_of[k] == "step"]) / 1e9,
                        "wait_s": 0.0}

    def span_ms(layer, name=None):
        return sum(s["t1"] - s["t0"] for s in spans
                   if s["layer"] == layer and (name is None or s["name"] == name)) / 1e6

    windows = [tuple(p) for p in rec["passes"]]
    job_cover = union_length([(max(j["t0"], w0), min(j["t1"], w1)) for j in jobs])
    extra = rec["extra"]
    m = {
        "spark.jobs": (len(jobs), "count"),
        "spark.tasks": (tasks, "count"),
        "spark.empty_task_frac": (sum(s["empty_tasks"] for s in job_stages) / max(1, tasks), "ratio"),
        "spark.sched_wait_s": (sched, "s"),
        "spark.driver_gap_s": ((union_length(windows) - job_cover) / 1e9, "s"),
        "spark.task_s": (sum(s["task_ns"] for s in job_stages) / 1e9, "s"),
        "spark.shuffle_mb": (sum(s["shuffle_bytes"] for s in job_stages) / 1e6, "MB"),
        "spark.spill_mb": (sum(s["spill_bytes"] for s in job_stages) / 1e6, "MB"),
        "spark.failed_tasks": (sum(s["failed_tasks"] for s in job_stages), "count"),
        "catalyst.plan_ms": (span_ms("catalyst"), "ms"),
        "queries.build_ms": (span_ms("queries", "build"), "ms"),
        "queries.exec_ms": (span_ms("queries", "exec"), "ms"),
        "sources.cow_merge_ms": (span_ms("sources", "cow_merge"), "ms"),
        "sources.mor_upsert_ms": (span_ms("sources", "mor_upsert"), "ms"),
        "sources.maint_ms": (span_ms("sources", "maint"), "ms"),
        "sources.read_ms": (span_ms("sources", "read"), "ms"),
        "sources.travel_ms": (span_ms("sources", "travel"), "ms"),
        "sources.versions": (extra.get("versions", 0.0), "count"),
        "sources.files_live": (extra.get("files_live", 0.0), "count"),
        "sources.write_amp": (extra.get("write_amp", 0.0), "ratio"),
        "sources.space_amp": (extra.get("space_amp", 0.0), "ratio"),
        "streaming.trigger_ms": (tr["stream_trigger_ms"], "ms"),
        "streaming.addbatch_ms": (tr["stream_addbatch_ms"], "ms"),
        "streaming.batches": (tr["stream_batches"], "count"),
        "pipeline.run_ms": (span_ms("pipeline"), "ms"),
        "pipeline.models": (extra.get("models", 0.0), "count"),
        "operators.dedup_s": (span_ms("operators", "dedup") / 1e3, "s"),
        "operators.similarity_s": (span_ms("operators", "similarity") / 1e3, "s"),
        "operators.text_s": (span_ms("operators", "text") / 1e3, "s"),
        "jvm.gc_s": (rec["gc_s"], "s"),
        "trace.wall_s": (wall_s, "s"),
    }
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (table[layer]["self_s"], "s")
    # a window holds one or more whole passes: sums over it are per pass
    n = len(rec["passes"])
    m = {k: (v / n if k not in NOT_SUMS else v, u) for k, (v, u) in m.items()}
    return table, m


def stress_shares(table, m, cores):
    """The three figures the workloads were chosen to push up."""
    window = table["harness"]["busy_s"]
    per_pass = window / table["harness"]["count"]  # `m` is per pass
    return {
        "fixed cost (gap+sched+plan)/wall": (m["spark.driver_gap_s"][0] + m["spark.sched_wait_s"][0]
                                             + m["catalyst.plan_ms"][0] / 1e3) / per_pass,
        "compute task_s/(wall*cores)": m["spark.task_s"][0] / (per_pass * cores),
        "store (sources+streaming self)/wall": (table["sources"]["self_s"]
                                                + table["streaming"]["self_s"]) / window,
    }


def render(workload, table, m, cores, wall_s, overhead_s):
    lines = [f"per-layer table: {workload} (traced; window {table['harness']['busy_s']:.2f} s, "
             f"{table['harness']['count']} passes; the table sums the window)",
             f"{'layer':<10} {'count':>6} {'busy_s':>9} {'wait_s':>9} {'self_s':>9}"]
    for layer in LAYERS + ["harness"]:
        r = table[layer]
        lines.append(f"{layer:<10} {r['count']:>6} {r['busy_s']:>9.3f} {r['wait_s']:>9.3f} "
                     f"{r['self_s']:>9.3f}")
    for k, v in stress_shares(table, m, cores).items():
        lines.append(f"share {k} = {v:.3f}")
    lines.append("tracing overhead = " + (
        "n/a (no untraced run recorded yet)" if overhead_s is None
        else f"{overhead_s:+.3f} s on wall_s {wall_s:.3f} s"))
    return "\n".join(lines)


def latest_untraced(results_dir, workload):
    """wall_s of the most recent untraced run of `workload`, if any."""
    files = glob.glob(os.path.join(results_dir, f"{workload}-t0-s*.json"))
    if not files:
        return None
    with open(max(files, key=os.path.getmtime)) as f:
        return json.load(f)["wall_s"]
