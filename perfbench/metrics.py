"""Turn a run record into the benchmark's metrics.

End-to-end metrics (``--trace 0``) are the same on every workload.
Per-layer metrics (``--trace 1``) are one fixed list for all workloads; a
layer the workload does not run reads 0. Only the traced passes of a traced
run feed the per-layer numbers; the other passes run untraced and give
``trace.overhead_pct``.
"""
import statistics

from workloads import COMPOSITES, STREAMS, TPCH

MB = 2**20


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); None with fewer than 11 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n, n


def by_pass(jobs):
    out = {}
    for j in jobs:
        out.setdefault(j["pass"], []).append(j)
    return out


def nest(spans):
    """Move each listener span (stages, micro-batches), which the probe files
    under its benchmark job, below the innermost span of that job that
    contains its start: job -> build/plan/exec -> micro-batch -> stage."""
    by_id = {s["id"]: dict(s) for s in spans}
    kids = {}
    for s in by_id.values():
        kids.setdefault(s["parent"], []).append(s)

    def descendants(i):
        for k in kids.get(i, []):
            yield k
            yield from descendants(k["id"])

    def from_listener(s):
        return s["name"] == "microbatch" or s["name"].startswith("stage.")

    for job in [s for s in by_id.values() if s["name"].startswith("job:")]:
        inner = [d for d in descendants(job["id"]) if not from_listener(d)]
        moved = sorted((d for d in kids.get(job["id"], []) if from_listener(d)),
                       key=lambda d: d["name"] != "microbatch")
        for m in moved:
            home = [c for c in inner if c["start"] <= m["start"] < c["end"]]
            if home:
                m["parent"] = min(home, key=lambda c: c["end"] - c["start"])["id"]
            if m["name"] == "microbatch":
                inner.append(m)
    return list(by_id.values())


def self_times(spans):
    """Each span with its duration and self time: the duration minus the
    part of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return [dict(s, dur=s["end"] - s["start"],
                 self=s["end"] - s["start"] - covered(
                     (max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], [])))
            for s in spans]


def per_layer_names():
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    names = [
        ("mr.map_cpu_s", "s"), ("mr.reduce_cpu_s", "s"), ("mr.shuffle_write_s", "s"),
        ("mr.shuffle_bytes", "bytes"), ("mr.shuffle_records", "count"),
        ("mr.fetch_wait_s", "s"), ("mr.submit_s", "s"), ("mr.driver_s", "s"),
        ("mr.map_stage_s", "s"), ("mr.reduce_stage_s", "s"), ("mr.tasks", "count"),
        ("mr.partition_skew", "ratio"), ("mr.spill_bytes", "bytes"), ("mr.gc_s", "s"),
        ("mr.sink_bytes", "bytes"),
        ("sql.plan_s", "s"), ("sql.exec_s", "s"), ("sql.cpu_s", "s"), ("sql.run_s", "s"),
        ("sql.shuffle_bytes", "bytes"), ("sql.shuffle_records", "count"),
        ("sql.input_bytes", "bytes"), ("sql.jobs", "count"), ("sql.stages", "count"),
        ("sql.tasks", "count"), ("sql.core_util", "ratio"), ("sql.gc_s", "s"),
        ("sql.spill_bytes", "bytes"), ("sql.peak_exec_mb", "MB"),
    ]
    for q in TPCH + COMPOSITES:
        names += [(f"q.{q}.s", "s"), (f"q.{q}.cpu_s", "s")]
    names += [
        ("stream.batches", "count"), ("stream.plan_s", "s"), ("stream.log_s", "s"),
        ("stream.harness_s", "s"), ("stream.batch_s", "s"), ("stream.add_batch_s", "s"),
        ("stream.rows_in", "count"), ("stream.cpu_s", "s"), ("stream.tasks", "count"),
        ("stream.shuffle_bytes", "bytes"), ("stream.state_commit_s", "s"),
        ("stream.state_rows", "count"), ("stream.state_mb", "MB"),
    ]
    names += [(f"q.{q}.s", "s") for q in STREAMS]
    names += [("scratch.leak_mb", "MB"), ("scratch.leak_dirs", "count"),
              ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
              ("trace.overhead_pct", "%")]
    return names


def _layers(workload, record, sink_bytes, cpus, leak):
    jobs = [j for j in record["jobs"] if j["traced"]]
    n_pass = max(1, len({j["pass"] for j in jobs}))
    cnt = record["counters"]
    c = [cnt[j["id"]] for j in jobs]
    v = {name: 0.0 for name, _ in per_layer_names()}

    def per_pass(key):
        return sum(x[key] for x in c) / n_pass

    def per_job(key):
        return sum(x[key] for x in c) / len(c)

    if workload == "mr_envelope" and jobs:
        stages = {}
        for s in record["spans"]:
            if s["name"].startswith("stage."):
                stages.setdefault(s["parent"], []).append((s["start"], s["end"]))
        job_spans = [s for s in record["spans"] if s["name"].startswith("job:")]
        reads = [x["reduce_read_bytes"] for x in c if sum(x["reduce_read_bytes"]) > 0]
        v.update({
            "mr.map_cpu_s": per_job("map_cpu_s"), "mr.reduce_cpu_s": per_job("reduce_cpu_s"),
            "mr.shuffle_write_s": per_job("shuffle_write_s"),
            "mr.shuffle_bytes": per_job("shuffle_bytes"),
            "mr.shuffle_records": per_job("shuffle_records"),
            "mr.fetch_wait_s": per_job("fetch_wait_s"),
            "mr.submit_s": sum(j["wall_s"] for j in jobs) / len(jobs),
            "mr.driver_s": _median([s["end"] - s["start"] - covered(stages.get(s["id"], []))
                                    for s in job_spans]),
            "mr.map_stage_s": per_job("map_stage_s"),
            "mr.reduce_stage_s": per_job("reduce_stage_s"),
            "mr.tasks": per_job("tasks"),
            "mr.partition_skew": _median([max(r) * len(r) / sum(r) for r in reads]),
            "mr.spill_bytes": per_job("spill_bytes"), "mr.gc_s": per_job("gc_s"),
            "mr.sink_bytes": sum(sink_bytes.get(j["id"], 0) for j in jobs) / len(jobs),
        })
    elif workload == "batch_queries" and jobs:
        wall = sum(j["wall_s"] for j in jobs) / n_pass
        v.update({
            "sql.plan_s": sum(j["plan_s"] for j in jobs) / n_pass,
            "sql.exec_s": sum(j["exec_s"] for j in jobs) / n_pass,
            "sql.cpu_s": per_pass("cpu_s"), "sql.run_s": per_pass("run_s"),
            "sql.shuffle_bytes": per_pass("shuffle_bytes"),
            "sql.shuffle_records": per_pass("shuffle_records"),
            "sql.input_bytes": per_pass("input_bytes"), "sql.jobs": per_pass("jobs"),
            "sql.stages": per_pass("stages"), "sql.tasks": per_pass("tasks"),
            "sql.core_util": per_pass("run_s") / (wall * cpus),
            "sql.gc_s": per_pass("gc_s"), "sql.spill_bytes": per_pass("spill_bytes"),
            "sql.peak_exec_mb": max(x["peak_exec_bytes"] for x in c) / MB,
        })
        for q in TPCH + COMPOSITES:
            mine = [j for j in jobs if j["name"] == q]
            v[f"q.{q}.s"] = _median([j["wall_s"] for j in mine])
            v[f"q.{q}.cpu_s"] = _median([cnt[j["id"]]["cpu_s"] for j in mine])
    elif workload == "stream_queries" and jobs:
        v.update({
            "stream.batches": per_pass("batches"), "stream.plan_s": per_pass("plan_s"),
            "stream.log_s": per_pass("log_s"),
            "stream.harness_s": sum(j["build_s"] - cnt[j["id"]]["batch_s"]
                                    for j in jobs) / n_pass,
            "stream.batch_s": per_pass("batch_s"), "stream.add_batch_s": per_pass("add_batch_s"),
            "stream.rows_in": per_pass("rows_in"), "stream.cpu_s": per_pass("cpu_s"),
            "stream.tasks": per_pass("tasks"), "stream.shuffle_bytes": per_pass("shuffle_bytes"),
            "stream.state_commit_s": per_pass("state_commit_s"),
            "stream.state_rows": per_pass("state_rows"),
            "stream.state_mb": per_pass("state_bytes") / MB,
        })
        for q in STREAMS:
            v[f"q.{q}.s"] = _median([j["wall_s"] for j in jobs if j["name"] == q])

    passes = by_pass(record["jobs"]).values()
    traced = [sum(j["wall_s"] for j in js) for js in passes if js[0]["traced"]]
    plain = [sum(j["wall_s"] for j in js) for js in passes if not js[0]["traced"]]
    v.update({
        "scratch.leak_mb": leak[0], "scratch.leak_dirs": leak[1],
        "jvm.gc_s": record["jvm_gc_s"] / record["passes"],
        "jvm.heap_peak_mb": record["jvm_heap_peak_mb"],
        "trace.overhead_pct": (100.0 * (_median(traced) / _median(plain) - 1.0)
                               if traced and plain else 0.0),
    })
    return v


def compute(workload, record, job_ok, *, setup_s, cpus, leak, traced, sink_bytes):
    """(contract result, artifact) for one run."""
    jobs = record["jobs"]
    passes = by_pass(jobs).values()
    failed = sum(1 for j in jobs if not job_ok.get(j["id"], False))
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (_median([sum(j["wall_s"] for j in js) for js in passes]), "s"),
        "peak_rss_mb": (record["vm_hwm_mb"], "MB"),
        "ok_ratio": ((len(jobs) - failed) / len(jobs), "ratio"),
    }
    # Reported, not gated: on a 4-vCPU VM their run-to-run spread on
    # batch_queries reached the largest bound the benchmark may set.
    reported = {
        "job_p50_s": (_median([j["wall_s"] for j in jobs]), "s"),
        "cpu_s": (_median([sum(record["job_cpu_s"][j["id"]] for j in js)
                           for js in passes]), "s"),
    }
    units = dict(per_layer_names())
    layers = _layers(workload, record, sink_bytes, cpus, leak) if traced else {}
    shown = ({k: {"value": v, "unit": units[k]} for k, v in layers.items()} if traced
             else {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()})
    result = {"correct": True, "attempted": len(jobs), "failed": failed, "metrics": shown}
    job_tail = tail([j["wall_s"] for j in jobs])
    artifact = {
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "reported": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
        "job_tail": (dict(zip(("value", "percentile", "samples"), job_tail))
                     if job_tail else None),
        "per_layer": {k: {"value": v, "unit": units[k]} for k, v in layers.items()},
        "passes": len(passes), "window_s": record["window_s"],
        "jobs": [dict(j, ok=job_ok.get(j["id"], False),
                      cpu_s=record["job_cpu_s"].get(j["id"])) for j in jobs],
        "counters": record["counters"],
        "spans": self_times(nest(record["spans"])),
    }
    return result, artifact


def summary(result, artifact):
    """Human-readable lines printed before the JSON result."""
    for k, m in sorted(artifact["end_to_end"].items()):
        yield f"{k:>14} = {m['value']:.6g} {m['unit']}"
    for k, m in sorted(artifact["reported"].items()):
        yield f"{k:>14} = {m['value']:.6g} {m['unit']} (not gated)"
    t = artifact["job_tail"]
    yield (f"{'job tail':>14} = {t['value']:.6g} s (p{t['percentile']:.0f} of "
           f"{t['samples']} jobs)" if t else
           f"{'job tail':>14} = n/a (fewer than 11 jobs)")
    yield (f"{'jobs':>14} = {result['attempted']} attempted, {result['failed']} failed, "
           f"{artifact['passes']} passes")
