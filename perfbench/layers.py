"""Per-layer report from a traced run.

Reads the Spark event log of the timed session and the harness's spans
(label, start, end), attributes every job to the span it was submitted
in, and sums job, stage and task statistics per span label. Labels are
`query:<name>:build`, `query:<name>:exec` and `layer:<probe>:<rep>`.
"""
import bisect
import glob
import json
import os

MB = 1048576.0


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def read_event_log(events_dir):
    """Jobs {id: {...}} with their stages' task totals."""
    paths = [p for p in glob.glob(os.path.join(events_dir, "*"))
             if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, "
                           f"found {len(paths)}")
    jobs, stage_job, stages = {}, {}, {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"], "end": None,
                             "stages": 0, "tasks": 0, "run_ms": 0,
                             "cpu_ns": 0, "gc_ms": 0, "input_b": 0,
                             "shuffle_write_b": 0, "shuffle_read_rec": 0,
                             "spill_b": 0}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics")
                if sid not in stage_job or not m:
                    continue
                j = jobs[stage_job[sid]]
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ns"] += m.get("Executor CPU Time", 0)
                j["gc_ms"] += m.get("JVM GC Time", 0)
                j["input_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                j["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}) \
                    .get("Shuffle Bytes Written", 0)
                j["shuffle_read_rec"] += m.get("Shuffle Read Metrics", {}) \
                    .get("Total Records Read", 0)
                j["spill_b"] += m.get("Disk Bytes Spilled", 0)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs


def by_label(spans, jobs):
    """Totals per span label: wall and outside-jobs seconds, and the
    statistics of the jobs submitted inside the span."""
    spans = sorted(spans, key=lambda s: s["start_ms"])
    starts = [s["start_ms"] for s in spans]
    owned = {i: [] for i in range(len(spans))}
    for j in jobs.values():
        i = bisect.bisect_right(starts, j["start"]) - 1
        if i >= 0 and j["start"] <= spans[i]["end_ms"]:
            owned[i].append(j)
    out = {}
    for i, s in enumerate(spans):
        lo, hi = s["start_ms"], s["end_ms"]
        js = owned[i]
        in_jobs = _union_ms([(max(lo, j["start"]), min(hi, j["end"]))
                             for j in js if j["end"] > lo])
        row = out.setdefault(s["label"], {
            "wall_s": 0.0, "outside_jobs_s": 0.0, "jobs": 0, "stages": 0,
            "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "input_mb": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_records": 0, "spill_mb": 0.0})
        row["wall_s"] += (hi - lo) / 1e3
        row["outside_jobs_s"] += (hi - lo - in_jobs) / 1e3
        row["jobs"] += len(js)
        for j in js:
            row["stages"] += j["stages"]
            row["tasks"] += j["tasks"]
            row["executor_run_s"] += j["run_ms"] / 1e3
            row["executor_cpu_s"] += j["cpu_ns"] / 1e9
            row["gc_s"] += j["gc_ms"] / 1e3
            row["input_mb"] += j["input_b"] / MB
            row["shuffle_write_mb"] += j["shuffle_write_b"] / MB
            row["shuffle_read_records"] += j["shuffle_read_rec"]
            row["spill_mb"] += j["spill_b"] / MB
    return out


def per_query(labels):
    """{query: stats}, build and exec spans folded together, with the
    builder's and the forcing write's seconds kept apart."""
    res = {}
    for label, row in labels.items():
        parts = label.split(":")
        if parts[0] != "query":
            continue
        q = res.setdefault(parts[1], {"build_s": 0.0, "exec_s": 0.0})
        q[f"{parts[2]}_s"] += row["wall_s"]
        for k, v in row.items():
            if k != "wall_s":
                q[k] = q.get(k, 0) + v
    return res


def layer_jobs(labels, probe):
    """Mean jobs per call of a `layer:<probe>:<rep>` span."""
    reps = [row["jobs"] for label, row in labels.items()
            if label.rsplit(":", 1)[0] == f"layer:{probe}"]
    return sum(reps) / len(reps) if reps else 0.0
