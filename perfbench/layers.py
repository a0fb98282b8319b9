"""Per-layer metrics and the per-op span breakdown of a traced run.

Input is the JVM's raw record (see Result.scala). Every metric is
reported on every workload; a layer the workload bypasses reads 0.
"""
import statistics

from metrics import link, op_spans, p50, self_times, tail, union_ms

CORES = 4

# name -> (unit, better)
PER_LAYER = {
    "tables.resolve_ms": ("ms", "lower"),
    "operators.build_ms": ("ms", "lower"),
    "operators.build_share": ("ratio", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "scheduler.jobs_per_op": ("count", "lower"),
    "scheduler.stages_per_op": ("count", "lower"),
    "scheduler.tasks_per_op": ("count", "lower"),
    "scheduler.job_active_share": ("ratio", "lower"),
    "scheduler.task_fill": ("ratio", "higher"),
    "scheduler.task_cpu_share": ("ratio", "higher"),
    "scheduler.gc_ms": ("ms", "lower"),
    "scheduler.shuffle_write_bytes": ("bytes", "lower"),
    "scheduler.shuffle_read_bytes": ("bytes", "lower"),
    "scheduler.spill_bytes": ("bytes", "lower"),
    "scheduler.failed_tasks": ("count", "lower"),
    "sink.self_ms": ("ms", "lower"),
    "streaming.batches_per_replay": ("count", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_bytes": ("bytes", "lower"),
    "manifest.append_ms": ("ms", "lower"),
    "manifest.delete_ms": ("ms", "lower"),
    "manifest.merge_ms": ("ms", "lower"),
    "manifest.compact_ms": ("ms", "lower"),
    "manifest.commit_p50_ms": ("ms", "lower"),
    "manifest.commit_tail_ms": ("ms", "lower"),
    "manifest.read_p50_ms": ("ms", "lower"),
    "manifest.read_tail_ms": ("ms", "lower"),
    "manifest.bytes_written_per_commit": ("bytes", "lower"),
    "manifest.space_amp": ("ratio", "lower"),
    "manifest.log_resolve_ms": ("ms", "lower"),
    "manifest.read_plan_ms": ("ms", "lower"),
    "manifest.live_files": ("count", "lower"),
    "manifest.files_admitted_ratio": ("ratio", "lower"),
    "serving.service_ms.trace": ("ms", "lower"),
    "serving.service_ms.summary": ("ms", "lower"),
    "serving.service_ms.trips": ("ms", "lower"),
    "serving.service_ms.table": ("ms", "lower"),
    "serving.queue_ms": ("ms", "lower"),
    "serving.overlap": ("ratio", "higher"),
}

COMMITS = ("append", "delete", "merge", "compact")
READS = ("read_full", "read_range", "read_pinned")


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def unpack(res):
    """Raw listener rows -> dicts grouped by op id."""
    jobs = [{"id": j[0], "op": j[1], "start": j[2], "end": j[3]}
            for j in res.get("jobs", []) if j[3] >= 0]
    stages = [{"id": s[0], "attempt": s[1], "op": s[2], "submit": s[3],
               "end": s[4] if s[4] >= 0 else s[3], "n": s[6], "failed": s[7],
               "run_ms": s[8], "cpu_ns": s[9], "gc_ms": s[10], "sw": s[11],
               "sr": s[12], "spill": s[13], "tasks": s[14]}
              for s in res.get("stages", [])]
    phases = [{"op": p[0], **{k: tuple(v) for k, v in p[1].items()}}
              for p in res.get("phases", [])]
    batches = [{"op": b[0], "batch": b[1], "start": b[2], "durations": b[3],
                "state_rows": b[4], "state_mem": b[5], "state_commit": b[6]}
               for b in res.get("batches", [])]
    return jobs, stages, phases, batches


def attribute(ops, items, key):
    """Group listener items by op: by the op id they carry, or, for items
    started on threads the benchmark does not own (-1), by the op whose
    interval contains their start. Only meaningful for serial ops.
    """
    by = {op["id"]: [] for op in ops}
    spans = sorted((op["t0"], op["t1"], op["id"]) for op in ops)
    for it in items:
        if it["op"] in by:
            by[it["op"]].append(it)
        elif it["op"] == -1:
            t = it[key]
            for a, b, i in spans:
                if a <= t <= b:
                    by[i].append(it)
                    break
    return by


def compute(res, measured):
    """Per-layer metrics of one traced run. `measured` are the timed ops."""
    jobs, stages, phases, batches = unpack(res)
    info = res.get("info", {})
    # ops whose Spark work can be attributed exactly: every serial op,
    # and for the serving loop its single-client phase
    serial = [o for o in measured if o["phase"] in (0, 1)]
    jb = attribute(serial, jobs, "start")
    sb = attribute(serial, stages, "submit")
    bb = attribute(serial, batches, "start")
    pb = {o["id"]: [p for p in phases if p["op"] == o["id"]] for o in serial}
    m = {k: 0.0 for k in PER_LAYER}

    def marks(o, layer):
        return [(a, b) for l, a, b in o["marks"] if l == layer]

    probes = [p[2] for p in res.get("probes", [])]
    m["tables.resolve_ms"] = p50(probes)

    wall = sum(o["t1"] - o["t0"] for o in serial) or 1.0
    built = [o for o in serial if marks(o, "operators.build")]
    if built:
        bt = [sum(b - a for a, b in marks(o, "operators.build")) for o in built]
        m["operators.build_ms"] = p50(bt)
        m["operators.build_share"] = sum(bt) / sum(o["t1"] - o["t0"] for o in built)
        m["operators.build_jobs"] = _mean([
            sum(1 for j in jb[o["id"]] for a, b in marks(o, "operators.build")
                if a <= j["start"] <= b) for o in built])
    # mean, not median: the phases are timed in whole milliseconds, and
    # analysis of an already analysed plan mostly reads 0
    for name in ("analysis", "optimization", "planning"):
        xs = [sum(p[name][1] - p[name][0] for p in pb[o["id"]] if name in p)
              for o in serial if pb[o["id"]]]
        m[f"catalyst.{name}_ms"] = _mean(xs)

    n = len(serial) or 1
    m["scheduler.jobs_per_op"] = sum(len(jb[o["id"]]) for o in serial) / n
    m["scheduler.stages_per_op"] = sum(len(sb[o["id"]]) for o in serial) / n
    m["scheduler.tasks_per_op"] = sum(s["n"] for o in serial for s in sb[o["id"]]) / n
    active = sum(union_ms([(max(j["start"], o["t0"]), min(j["end"], o["t1"]))
                           for j in jb[o["id"]] if j["end"] > o["t0"]])
                 for o in serial)
    run_ms = sum(s["run_ms"] for o in serial for s in sb[o["id"]])
    cpu_ms = sum(s["cpu_ns"] for o in serial for s in sb[o["id"]]) / 1e6
    m["scheduler.job_active_share"] = active / wall
    m["scheduler.task_fill"] = run_ms / (CORES * active) if active else 0.0
    m["scheduler.task_cpu_share"] = cpu_ms / (CORES * wall)
    for key, field in (("gc_ms", "gc_ms"), ("shuffle_write_bytes", "sw"),
                       ("shuffle_read_bytes", "sr"), ("spill_bytes", "spill")):
        m[f"scheduler.{key}"] = sum(s[field] for o in serial for s in sb[o["id"]]) / n
    m["scheduler.failed_tasks"] = float(sum(s["failed"] for o in serial for s in sb[o["id"]]))

    breakdown = per_op(serial, jb, sb, pb, bb)
    sinks = [b["self"].get("sink", 0.0) for b in breakdown if any(
        l == "sink" for l, _, _ in b["op"]["marks"])]
    m["sink.self_ms"] = p50(sinks)

    replays = [o for o in serial if bb[o["id"]]]
    if replays:
        def per(f):
            return _mean([f(bb[o["id"]]) for o in replays])
        m["streaming.batches_per_replay"] = per(len)
        for key, layer in (("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
                           ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                           ("commitOffsets", "commit_offsets")):
            m[f"streaming.{layer}_ms"] = per(lambda bs, k=key: sum(b["durations"].get(k, 0) for b in bs))
        m["streaming.state_commit_ms"] = per(lambda bs: sum(b["state_commit"] for b in bs))
        m["streaming.state_rows"] = per(lambda bs: max(bs, key=lambda b: b["batch"])["state_rows"])
        m["streaming.state_mem_bytes"] = per(lambda bs: max(bs, key=lambda b: b["batch"])["state_mem"])

    lat = {k: [o["t1"] - o["t0"] for o in measured if o["kind"] == k and o["ok"]]
           for k in COMMITS + READS}
    for k in COMMITS:
        m[f"manifest.{k}_ms"] = p50(lat[k])
    commit_lat = sum((lat[k] for k in COMMITS), [])
    read_lat = sum((lat[k] for k in READS), [])
    if commit_lat:
        m["manifest.commit_p50_ms"] = p50(commit_lat)
        m["manifest.commit_tail_ms"] = tail(commit_lat)[0]
    if read_lat:
        m["manifest.read_p50_ms"] = p50(read_lat)
        m["manifest.read_tail_ms"] = tail(read_lat)[0]
    written = [o["extra"]["bytes_written"] for o in measured if "bytes_written" in o["extra"]]
    m["manifest.bytes_written_per_commit"] = _mean(written)
    m["manifest.space_amp"] = float(info.get("space_amp", 0.0))
    m["manifest.live_files"] = float(info.get("live_files", 0.0))
    m["manifest.log_resolve_ms"] = p50([b - a for o in measured for a, b in marks(o, "manifest.log_resolve")])
    m["manifest.read_plan_ms"] = p50([b - a for o in measured for a, b in marks(o, "manifest.read_plan")])
    ratios = [o["extra"]["files_admitted"] / o["extra"]["live_files"] for o in measured
              if "files_admitted" in o["extra"] and o["extra"].get("live_files")]
    m["manifest.files_admitted_ratio"] = _mean(ratios)

    one = [o for o in measured if o["phase"] == 1 and o["ok"]]
    four = [o for o in measured if o["phase"] == 4 and o["ok"]]
    for kind in ("trace", "summary", "trips", "table"):
        m[f"serving.service_ms.{kind}"] = p50([o["t1"] - o["t0"] for o in one if o["kind"] == kind])
    if one and four:
        m["serving.queue_ms"] = p50([o["t1"] - o["t0"] for o in four]) - p50([o["t1"] - o["t0"] for o in one])
        marks4 = res["phase_marks"]
        a, b = marks4["clients_4_start"], marks4["clients_4_end"]
        busy = sum(min(j["end"], b) - max(j["start"], a) for j in jobs
                   if j["end"] > a and j["start"] < b)
        m["serving.overlap"] = busy / (b - a)
    return m, breakdown


def per_op(ops, jb, sb, pb, bb):
    """Span tree and per-layer self time of every op."""
    out = []
    for o in ops:
        spans = link(op_spans(o, jb[o["id"]], sb[o["id"]], pb[o["id"]], bb[o["id"]]))
        st = self_times(spans, o["t0"], o["t1"])
        out.append({"op": o, "spans": spans, "self": st})
    return out
