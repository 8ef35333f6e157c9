"""Metrics from one run record (the JSON the benchmark JVM writes).

Pure functions over plain dicts and lists, so the statistics are unit
tested without a JVM (tests/test_bench.py).
"""

import math
import statistics

# name -> (unit, definition); the order is the print order
END_TO_END = {
    "setup_s": ("s", "JVM start to the first timed op: session start, input "
                     "generation, warm touch"),
    "cold_s": ("s", "wall time of pass 1's ops in a fresh session"),
    "warm_s": ("s", "median wall time of the later passes' ops"),
    "op_p50_s": ("s", "median op latency over the warm passes"),
    "op_tail_s": ("s", "highest nearest-rank percentile of warm op latency "
                       "with >= 10 samples above it (the median below 11 samples)"),
    "ok_ratio": ("ratio", "1 - fail_ratio: ops that neither threw nor failed "
                          "their output check, over ops whose output was "
                          "checked or that threw"),
    "cached_mb": ("MB", "Spark block storage (memory + disk) still held "
                        "after the last pass"),
}

PER_LAYER = {
    "spark.jobs": ("count", "Spark jobs per op"),
    "spark.stages": ("count", "Spark stages per op"),
    "spark.tasks": ("count", "Spark tasks per op"),
    "spark.driver_share": ("ratio", "share of op wall time with no task running"),
    "spark.exec_run_s": ("s", "executor run time per op"),
    "spark.shuffle_write_mb": ("MB", "shuffle bytes written per op"),
    "spark.shuffle_read_mb": ("MB", "shuffle bytes read per op"),
    "spark.spill_mb": ("MB", "memory + disk spill per op"),
    "spark.peak_exec_mem_mb": ("MB", "largest peak execution memory of a task"),
    "spark.input_mb": ("MB", "task input bytes per op"),
    "spark.output_mb": ("MB", "task output bytes per op"),
    "rel.busy_s": ("s", "time in graft.rel query ops per traced pass"),
    "rel.self_s": ("s", "rel time not covered by Spark jobs, per traced pass"),
    "rel.jobs": ("count", "Spark jobs per graft.rel op"),
    "rel.shuffle_write_mb": ("MB", "shuffle bytes written per graft.rel op"),
    "ext.busy_s": ("s", "time in graft.ext query ops per traced pass"),
    "ext.self_s": ("s", "ext time not covered by Spark jobs, per traced pass"),
    "ext.jobs": ("count", "Spark jobs per graft.ext op"),
    "ext.cold_extra_s": ("s", "ext op time of the cold pass minus that of a "
                              "traced warm pass"),
    "exec.busy_s": ("s", "time in graft.exec query ops per traced pass"),
    "exec.self_s": ("s", "exec time not covered by Spark jobs, per traced pass"),
    "exec.jobs": ("count", "Spark jobs per graft.exec op"),
    "streaming.batch_s": ("s", "addBatch duration per micro-batch"),
    "streaming.overhead_s": ("s", "micro-batch op wall time minus addBatch"),
    "streaming.jobs_per_batch": ("count", "Spark jobs per micro-batch"),
    "streaming.compaction_batch_s": ("s", "wall time of a batch that folds the stores"),
    "streaming.standing_rows": ("count", "standing component rows after a batch"),
    "sources.write_mb": ("MB", "bytes written to the stores per micro-batch"),
    "sources.write_amp": ("ratio", "bytes written per byte of CDC input"),
    "sources.store_files": ("count", "parquet files in the stores after a batch"),
    "sources.probe_read_mb": ("MB", "store bytes read per micro-batch"),
    "sources.scan_mb": ("MB", "table bytes scanned per catalog pass"),
    "exec.stage_s": ("s", "wall time per pipeline stage run"),
    "exec.jobs_per_stage": ("count", "Spark jobs per pipeline stage run"),
    "exec.cache_hit_ratio": ("ratio", "1 - LLM calls / instruction requests "
                                      "on the cached path"),
    "exec.cache_write_mb": ("MB", "response-cache bytes written per op"),
    "llm.calls": ("count", "LLM client calls per op"),
    "llm.batches": ("count", "completeBatch calls per op"),
    "llm.busy_s": ("s", "time inside the LLM client per op"),
    "llm.prompt_mb": ("MB", "prompt characters sent per op (millions)"),
    "llm.empty_responses": ("count", "empty LLM responses in the traced passes"),
    "llm_calls_per_doc": ("calls/doc", "LLM client calls per document processed, "
                                       "over all passes"),
    "store_mb": ("MB", "on-disk bytes of everything the program wrote: "
                       "index, shingle, edge, tombstone and component stores, "
                       "LLM response cache"),
    "trace.overhead_ratio": ("ratio", "traced warm pass time / untraced warm "
                                      "pass time, same run"),
}

TAIL_MIN_ABOVE = 10


def nearest_rank(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100): the value at rank
    ceil(p/100 * n) of the sorted sample."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def tail(values, min_above=TAIL_MIN_ABOVE):
    """(p, value, n): the highest integer percentile whose nearest rank
    leaves at least `min_above` samples above it. With too few samples
    for any percentile, (None, median, n)."""
    n = len(values)
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= min_above:
            return p, nearest_rank(values, p), n
    return None, statistics.median(values) if values else None, n


def fail_counts(ops):
    """(attempted, failed): a throw or a failed output check is a failure."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def ok_ratio(ops):
    """Share of the judged ops that passed. An op is judged when its
    output was checked or when it threw; an op that ran on a pass with
    no check and did not throw says nothing either way."""
    judged = [o for o in ops if o["checked"] or not o["ok"]]
    return sum(1 for o in judged if o["ok"]) / len(judged) if judged else None


def _warm_passes(rec, traced=False):
    return [p for p in rec["passes"] if p["pass"] > 1 and p["traced"] == traced]


def end_to_end(rec):
    """Metrics of an untraced run, plus notes on how they were formed."""
    ops = rec["ops"]
    attempted, failed = fail_counts(ops)
    warm = [p["seconds"] for p in _warm_passes(rec)]
    cold = [p["seconds"] for p in rec["passes"] if p["pass"] == 1]
    warm_ops = [o["seconds"] for o in ops if o["pass"] > 1 and o["ok"]
                and not o["traced"]]
    p, tail_v, n = tail(warm_ops)
    m = {
        "setup_s": rec["setup_s"],
        "cold_s": cold[0] if cold else None,
        "warm_s": statistics.median(warm) if warm else None,
        "op_p50_s": statistics.median(warm_ops) if warm_ops else None,
        "op_tail_s": tail_v,
        "ok_ratio": ok_ratio(ops),
        "cached_mb": rec["cached_mb"],
    }
    notes = {"op_tail_percentile": p, "op_tail_samples": n,
             "warm_passes": len(warm), "attempted": attempted,
             "failed": failed}
    return m, notes


def _union(intervals):
    """Total length covered by a set of (t0, t1) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def attribute(rec):
    """Spans of the traced ops. Spark jobs carry their op id through a
    local property; a job started from a thread that did not inherit
    it (the stream execution thread outlives its ops) is given the op
    whose root span contains the job's start. Stages and tasks follow
    their job."""
    ops = {o["id"]: o for o in rec["ops"] if o["traced"]}
    roots = sorted((s["t0"], s["t1"], s["op"]) for s in rec["spans"]
                   if s["parent"] == 0 and s["op"] in ops
                   and s["name"] in ("rel", "ext", "streaming", "exec"))
    by_id = {s["id"]: s for s in rec["spans"]}

    def containing(t):
        for t0, t1, op in roots:
            if t0 <= t <= t1:
                return op
        return 0

    out = []
    for s in rec["spans"]:
        op = s["op"]
        if op == 0 and s["name"] in ("spark.job", "spark.stage", "spark.task"):
            job = s
            while job is not None and job["name"] != "spark.job":
                job = by_id.get(job["parent"])
            op = job["op"] or containing(job["t0"]) if job else containing(s["t0"])
        if op in ops:
            out.append(dict(s, op=op))
    return ops, out


def per_layer(rec):
    """Per-layer metrics from a traced run's spans and op records."""
    ops, spans = attribute(rec)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    n_ops = max(1, len(ops))
    jobs, stages, tasks = by.get("spark.job", []), by.get("spark.stage", []), \
        by.get("spark.task", [])
    tasks_of = {}
    for t in tasks:
        tasks_of.setdefault(t["op"], []).append(t)
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["op"], []).append(j)

    def attr_sum(ts, k):
        return sum(t["attrs"].get(k, 0) or 0 for t in ts)

    # op wall interval = its root layer span
    roots = {s["op"]: s for s in spans if s["parent"] == 0
             and s["name"] in ("rel", "ext", "streaming", "exec")}
    uncovered = wall = 0
    for op, r in roots.items():
        w = r["t1"] - r["t0"]
        cov = _union([(max(t["t0"], r["t0"]), min(t["t1"], r["t1"]))
                      for t in tasks_of.get(op, []) if t["t1"] > t["t0"]])
        wall += w
        uncovered += max(0, w - cov)

    def self_time(op):
        r = roots[op]
        cov = _union([(max(j["t0"], r["t0"]), min(j["t1"], r["t1"]))
                      for j in jobs_of.get(op, []) if j["t1"] > j["t0"]])
        return max(0, (r["t1"] - r["t0"]) - cov)

    traced_passes = sorted({o["pass"] for o in ops.values()})
    n_passes = max(1, len(traced_passes))
    mb = 1e6
    m = {
        "spark.jobs": len(jobs) / n_ops,
        "spark.stages": len(stages) / n_ops,
        "spark.tasks": len(tasks) / n_ops,
        "spark.driver_share": uncovered / wall if wall else 0.0,
        "spark.exec_run_s": attr_sum(tasks, "run_ms") / 1e3 / n_ops,
        "spark.shuffle_write_mb": attr_sum(tasks, "shuffle_write_b") / mb / n_ops,
        "spark.shuffle_read_mb": attr_sum(tasks, "shuffle_read_b") / mb / n_ops,
        "spark.spill_mb": attr_sum(tasks, "spill_b") / mb / n_ops,
        "spark.peak_exec_mem_mb": max([t["attrs"].get("peak_mem_b", 0) or 0
                                       for t in tasks] or [0]) / mb,
        "spark.input_mb": attr_sum(tasks, "input_b") / mb / n_ops,
        "spark.output_mb": attr_sum(tasks, "output_b") / mb / n_ops,
    }

    for layer in ("rel", "ext", "exec"):
        lops = [i for i, o in ops.items() if o["layer"] == layer and i in roots]
        busy = sum(roots[i]["t1"] - roots[i]["t0"] for i in lops) / 1e9
        m[layer + ".busy_s"] = busy / n_passes
        m[layer + ".self_s"] = sum(self_time(i) for i in lops) / 1e9 / n_passes
        m[layer + ".jobs"] = sum(len(jobs_of.get(i, [])) for i in lops) / max(1, len(lops))
    rel_ops = [i for i, o in ops.items() if o["layer"] == "rel"]
    m["rel.shuffle_write_mb"] = sum(attr_sum(tasks_of.get(i, []), "shuffle_write_b")
                                    for i in rel_ops) / mb / max(1, len(rel_ops))
    ext_cold = sum(o["seconds"] for o in ops.values()
                   if o["layer"] == "ext" and o["pass"] == 1)
    warm_traced = [p for p in traced_passes if p > 1]
    ext_warm = [sum(o["seconds"] for o in ops.values()
                    if o["layer"] == "ext" and o["pass"] == p) for p in warm_traced]
    m["ext.cold_extra_s"] = ext_cold - statistics.median(ext_warm) if ext_warm else 0.0

    # streaming: micro-batches
    sops = [o for o in ops.values() if o["layer"] == "streaming"]
    batches = by.get("streaming.batch", [])
    add_s = {b["op"]: b["attrs"]["add_batch_ms"] / 1e3 for b in batches}
    m["streaming.batch_s"] = statistics.mean(add_s.values()) if add_s else 0.0
    m["streaming.overhead_s"] = statistics.mean(
        [o["seconds"] - add_s[o["id"]] for o in sops if o["id"] in add_s]) \
        if add_s else 0.0
    m["streaming.jobs_per_batch"] = (sum(len(jobs_of.get(o["id"], [])) for o in sops)
                                     / len(sops)) if sops else 0.0
    comp = [o["seconds"] for o in sops if o["extra"].get("compaction")]
    m["streaming.compaction_batch_s"] = statistics.mean(comp) if comp else 0.0
    c = rec.get("counters", {})
    standing = c.get("standing_rows") or []
    m["streaming.standing_rows"] = statistics.mean(standing) if standing else 0.0
    cdc = sum(o["extra"].get("cdc_bytes", 0) for o in sops)
    written = sum(attr_sum(tasks_of.get(o["id"], []), "output_b") for o in sops)
    m["sources.write_mb"] = written / mb / len(sops) if sops else 0.0
    m["sources.write_amp"] = written / cdc if cdc else 0.0
    files = c.get("store_files") or []
    m["sources.store_files"] = statistics.mean(files) if files else 0.0
    m["sources.probe_read_mb"] = (sum(attr_sum(tasks_of.get(o["id"], []), "input_b")
                                      for o in sops) / mb / len(sops)) if sops else 0.0
    qops = [i for i, o in ops.items() if o["layer"] in ("rel", "ext", "exec")]
    m["sources.scan_mb"] = (sum(attr_sum(tasks_of.get(i, []), "input_b") for i in qops)
                            / mb / n_passes) if qops else 0.0

    # exec + llm: the instructions pipeline
    eops = [o for o in ops.values() if o["layer"] == "exec"]
    pipe = by.get("exec.pipeline", [])
    cstage = by.get("exec.cached_stage", [])
    n_stages = 2 * len(pipe) + len(cstage)
    m["exec.stage_s"] = (sum(s["t1"] - s["t0"] for s in pipe + cstage) / 1e9
                         / n_stages) if n_stages else 0.0
    m["exec.jobs_per_stage"] = (sum(len(jobs_of.get(o["id"], [])) for o in eops)
                                / n_stages) if n_stages else 0.0
    req = sum(o["extra"].get("requests_cached", 0) for o in eops)
    m["exec.cache_hit_ratio"] = (1.0 - sum(o["extra"].get("calls_cached", 0)
                                           for o in eops) / req) if req else 0.0
    ne = max(1, len(eops))
    m["exec.cache_write_mb"] = sum(o["extra"].get("cache_write_b", 0)
                                   for o in eops) / mb / ne if eops else 0.0
    calls = sum(o["extra"].get("calls_pipeline", 0) + o["extra"].get("calls_cached", 0)
                for o in eops)
    m["llm.calls"] = calls / ne if eops else 0.0
    m["llm.batches"] = sum(o["extra"].get("batches", 0) for o in eops) / ne if eops else 0.0
    m["llm.busy_s"] = sum(o["extra"].get("busy_ns", 0) for o in eops) / 1e9 / ne \
        if eops else 0.0
    m["llm.prompt_mb"] = sum(o["extra"].get("prompt_chars", 0) for o in eops) / mb / ne \
        if eops else 0.0
    m["llm.empty_responses"] = float(sum(o["extra"].get("empty", 0) for o in eops))

    # whole-run figures (every op, traced or not)
    all_e = [o for o in rec["ops"] if o["layer"] == "exec"]
    docs = sum(o["extra"].get("docs", 0) for o in all_e)
    m["llm_calls_per_doc"] = sum(o["extra"].get("calls_pipeline", 0) +
                                 o["extra"].get("calls_cached", 0)
                                 for o in all_e) / docs if docs else 0.0
    m["store_mb"] = float(c.get("store_mb", 0.0))

    traced = [p["seconds"] for p in _warm_passes(rec, traced=True)]
    plain = [p["seconds"] for p in _warm_passes(rec, traced=False)]
    m["trace.overhead_ratio"] = (statistics.median(traced) / statistics.median(plain)
                                 if traced and plain else 0.0)
    return m
