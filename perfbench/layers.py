"""Per-layer metrics from a traced run.

Every metric is a per-round value: the median over the measured rounds
(the warm rounds after the warm-up ones) of what the round spent or
counted in that layer. Jobs are attributed to the span whose id they
carry as job group, else (stream micro-batches run under the query's own
group) to the innermost span open when they were submitted. A layer's
self time is its spans' duration minus the part of that interval covered
by child spans.
"""
import os
import statistics

import checks

BATTERY = [("q_pagerank", "graph"), ("q_semdedup_recluster", "sim"), ("q_ann_topk_int8", "sim"),
           ("q_image_neardup_dedup", "multimodal"), ("q_audio_neardup_dedup", "multimodal"),
           ("q_kmv_distinct", "sketch"), ("q_funnel", "events"), ("q_cohort_retention", "events")]

# name -> (unit, counted): counted metrics must repeat exactly run to run
METRICS = {
    "config.parse_s": ("s", False), "config.validate_s": ("s", False), "config.build_s": ("s", False),
    "pipeline.construct_s": ("s", False), "pipeline.construct_jobs": ("count", True),
    "pipeline.sink_s": ("s", False), "pipeline.rows": ("count", True),
    "text.construct_s": ("s", False), "text.construct_jobs": ("count", True),
    "text.rows_removed": ("count", True),
    "dedup.construct_s": ("s", False), "dedup.construct_jobs": ("count", True),
    "dedup.rows_removed": ("count", True), "dedup.span_rounds": ("count", True),
    "ops.construct_s": ("s", False), "ops.rows_removed": ("count", True),
    "dag.run_s": ("s", False), "dag.cache_pins": ("count", True),
    "io.written_mb": ("MB", False), "io.files_written": ("count", True),
    "plan.analysis_s": ("s", False), "plan.optimization_s": ("s", False),
    "plan.planning_s": ("s", False),
    "exec.jobs": ("count", True), "exec.stages": ("count", True), "exec.tasks": ("count", True),
    "exec.task_s": ("s", False), "exec.cpu_s": ("s", False), "exec.core_busy": ("ratio", False),
    "exec.shuffle_write_mb": ("MB", False), "exec.shuffle_read_mb": ("MB", False),
    "exec.spill_mb": ("MB", False), "exec.input_mb": ("MB", False),
    "exec.peak_task_mem_mb": ("MB", False),
    "jvm.jit_s": ("s", False), "jvm.gc_s": ("s", False),
    "jvm.jit_cpu_s": ("s", False), "jvm.gc_cpu_s": ("s", False),
    "streaming.drain_s": ("s", False), "streaming.last_drain_s": ("s", False),
    "streaming.batches": ("count", True), "streaming.add_batch_s": ("s", False),
    "streaming.planning_s": ("s", False), "streaming.commit_s": ("s", False),
    "streaming.compact_s": ("s", False), "streaming.admitted_rows": ("count", True),
    "streaming.history_rows": ("count", True), "streaming.history_files": ("count", True),
    "streaming.history_mb": ("MB", False),
}
for _q, _layer in BATTERY:
    METRICS[f"{_layer}.{_q}.construct_s"] = ("s", False)
    METRICS[f"{_layer}.{_q}.exec_s"] = ("s", False)
    METRICS[f"{_layer}.{_q}.jobs"] = ("count", True)

# What a traced run reports. The gated set (BENCHMARK.json) is the same on
# every workload; a layer a workload does not reach reads 0 there. The text
# and dedup stage metrics and the per-query battery metrics come only from
# the workloads that reach those layers (neither is gated).
TEXT_DEDUP_METRICS = [k for k in METRICS if k.startswith(("text.", "dedup."))]
BATTERY_METRICS = [k for _q, _layer in BATTERY for k in METRICS if k.startswith(f"{_layer}.{_q}.")]
GATED_METRICS = [k for k in METRICS if k not in TEXT_DEDUP_METRICS and k not in BATTERY_METRICS]
REPORTED = {
    "etl_relational": GATED_METRICS,
    "ingest_stream": GATED_METRICS,
    "curation_batch": GATED_METRICS + TEXT_DEDUP_METRICS,
    "battery_mix": GATED_METRICS + BATTERY_METRICS,
}

MB = 1048576.0


def _attribute(spans, jobs):
    """job id -> span id."""
    ids = {s["id"] for s in spans}
    by_start = sorted(spans, key=lambda s: s["start_us"])
    out = {}
    for j in jobs:
        g = j.get("group") or ""
        sid = int(g[len("perfbench-"):]) if g.startswith("perfbench-") else None
        if sid not in ids:
            t = j["time_ms"] * 1000
            inner = [s for s in by_start if s["start_us"] <= t <= s["end_us"]]
            sid = inner[-1]["id"] if inner else None
        out[j["job"]] = sid
    return out


def _dirs_in_round(work, r, names):
    files, size = 0, 0
    for n in names:
        f, b = checks.data_files(os.path.join(work, "out", f"r{r}", n))
        files, size = files + f, size + b
    return files, size


SINK_DIRS = {
    "etl_relational": ["summary", "positive", "negative"],
    "curation_batch": ["cleaned"],
    "ingest_stream": ["near/corpus", "near/digest"],
    "battery_mix": [],
}


def per_round(workload, res, work, cores):
    """metric -> list of per-round values (all rounds, round 0 first)."""
    tr = res.get("trace") or {}
    spans, jobs = tr.get("spans", []), tr.get("jobs", [])
    stages = {s["stage"]: s for s in tr.get("stages", [])}
    job_span = _attribute(spans, jobs)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def under(sid):
        """the span and its descendants"""
        todo, seen = [sid], set()
        while todo:
            x = todo.pop()
            seen.add(x)
            todo += [c["id"] for c in children.get(x, [])]
        return seen

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def jobs_in(span_ids):
        return [j for j in jobs if job_span.get(j["job"]) in span_ids]

    extras = res.get("extras", {})
    counts = extras.get("stage_counts", [])

    def removed(layer):
        return sum(c["rows_in"] - c["rows_out"] for c in counts if c["layer"] == layer)

    span_rounds = sum(c.get("span_rounds", 0) for c in counts)
    out = {k: [] for k in METRICS}
    for rd in res["rounds"]:
        r = rd["round"]
        rs = [s for s in spans if s["round"] == r]
        rset = set().union(*[under(s["id"]) for s in rs if s["parent"] == 0]) if rs else set()
        rjobs = [j for j in jobs if job_span.get(j["job"]) in rset]

        def total(pred):
            return sum(dur(s) for s in rs if pred(s))

        def construct(pred):
            sel = [s for s in rs if pred(s)]
            ids = set().union(*[under(s["id"]) for s in sel]) if sel else set()
            return sum(dur(s) for s in sel), len(jobs_in(ids))

        def is_stage(s):
            return s["name"].startswith("stage.") or s["name"] == "pipeline.source"

        v = out
        for name in ("parse", "validate", "build"):
            v[f"config.{name}_s"].append(total(lambda s: s["name"] == f"config.{name}"))
        t, n = construct(is_stage)
        v["pipeline.construct_s"].append(t)
        v["pipeline.construct_jobs"].append(n)
        v["pipeline.sink_s"].append(total(lambda s: s["name"] == "pipeline.sink"))
        v["pipeline.rows"].append(sum(op["info"].get("rows", 0) for op in rd["ops"]))
        for layer in ("text", "dedup"):
            t, n = construct(lambda s: s["name"].startswith("stage.") and s["layer"] == layer)
            v[f"{layer}.construct_s"].append(t)
            v[f"{layer}.construct_jobs"].append(n)
            v[f"{layer}.rows_removed"].append(removed(layer))
        v["dedup.span_rounds"].append(span_rounds)
        v["ops.construct_s"].append(
            total(lambda s: s["name"].startswith("stage.") and s["layer"] == "ops"))
        v["ops.rows_removed"].append(removed("ops"))
        dag_ids = set().union(*[under(s["id"]) for s in rs if s["name"] == "dag.run"] or [set()])
        v["dag.run_s"].append(total(lambda s: s["name"] == "dag.run"))
        pins = {rdd for j in jobs_in(dag_ids) for st in j["stages"]
                for rdd in stages.get(st, {}).get("cached_rdds", [])}
        v["dag.cache_pins"].append(len(pins))
        files, size = _dirs_in_round(work, r, SINK_DIRS[workload])
        v["io.written_mb"].append(size / MB)
        v["io.files_written"].append(files)
        lo, hi = rd["start_us"], rd["end_us"]
        ph = [p for p in tr.get("phases", []) if lo <= p["start_ms"] * 1000 <= hi]
        for name in ("analysis", "optimization", "planning"):
            v[f"plan.{name}_s"].append(sum(p["ms"] for p in ph if p["phase"] == name) / 1000.0)
        st = [stages[s] for j in rjobs for s in j["stages"] if s in stages]
        task_s = sum(s["run_ms"] for s in st) / 1000.0
        v["exec.jobs"].append(len(rjobs))
        v["exec.stages"].append(len(st))
        v["exec.tasks"].append(sum(s["tasks"] for s in st))
        v["exec.task_s"].append(task_s)
        v["exec.cpu_s"].append(sum(s["cpu_ns"] for s in st) / 1e9)
        v["exec.core_busy"].append(task_s / (rd["wall_s"] * cores))
        v["exec.shuffle_write_mb"].append(sum(s["shuffle_write"] for s in st) / MB)
        v["exec.shuffle_read_mb"].append(sum(s["shuffle_read"] for s in st) / MB)
        v["exec.spill_mb"].append(sum(s["spill"] for s in st) / MB)
        v["exec.input_mb"].append(sum(s["input"] for s in st) / MB)
        v["exec.peak_task_mem_mb"].append(max([s["peak_mem"] for s in st] or [0]) / MB)
        v["jvm.jit_s"].append(rd["jit_ms"] / 1000.0)
        v["jvm.gc_s"].append(rd["gc_ms"] / 1000.0)
        v["jvm.jit_cpu_s"].append(rd["jit_cpu_s"])
        v["jvm.gc_cpu_s"].append(rd["gc_cpu_s"])
        drains = [s for s in rs if s["name"] == "streaming.drain"]
        v["streaming.drain_s"].append(sum(dur(s) for s in drains))
        v["streaming.last_drain_s"].append(dur(drains[-1]) if drains else 0.0)
        pr = [p for p in tr.get("progress", []) if lo <= p["time_ms"] * 1000 <= hi]
        v["streaming.batches"].append(len(pr))

        def pdur(*keys):
            return sum(p["durations"].get(k, 0) for p in pr for k in keys) / 1000.0
        v["streaming.add_batch_s"].append(pdur("addBatch"))
        v["streaming.planning_s"].append(pdur("queryPlanning"))
        v["streaming.commit_s"].append(pdur("walCommit", "commitOffsets"))
        v["streaming.compact_s"].append(total(lambda s: s["name"] == "streaming.compact"))
        hist = _stream_state(work, r) if workload == "ingest_stream" else (0, 0, 0, 0)
        for k, x in zip(("admitted_rows", "history_rows", "history_files", "history_mb"), hist):
            v[f"streaming.{k}"].append(x)
        for q, layer in BATTERY:
            v[f"{layer}.{q}.construct_s"].append(total(lambda s: s["name"] == f"{layer}.{q}.construct"))
            v[f"{layer}.{q}.exec_s"].append(total(lambda s: s["name"] == f"{layer}.{q}.exec"))
            ids = set().union(*[under(s["id"]) for s in rs if s["name"] == f"op.{q}"] or [set()])
            v[f"{layer}.{q}.jobs"].append(len(jobs_in(ids)))
    return out


def _stream_state(work, r):
    """(admitted rows, history rows, history files, history MB) of the
    stream config at the end of round r."""
    import duckdb
    con = duckdb.connect()
    rows = hist_rows = hist_files = hist_bytes = 0
    base = os.path.join(work, "out", f"r{r}")
    for cfg in ("near",):
        files = checks.parquet_glob(os.path.join(base, cfg, "corpus"))
        if files:
            rows += con.read_parquet(files).count("*").fetchone()[0]
        hdir = os.path.join(base, cfg, "digest")
        files = checks.parquet_glob(hdir)
        if files:
            hist_rows += con.read_parquet(files, union_by_name=True).count("*").fetchone()[0]
        f, b = checks.data_files(hdir)
        hist_files, hist_bytes = hist_files + f, hist_bytes + b
    con.close()
    return rows, hist_rows, hist_files, hist_bytes / MB


def self_times(res):
    """layer -> per-round self time: each span's duration minus the part
    covered by its child spans, summed by layer."""
    spans = (res.get("trace") or {}).get("spans", [])
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for rd in res["rounds"]:
        for s in spans:
            if s["round"] != rd["round"]:
                continue
            covered = sum(c["end_us"] - c["start_us"] for c in kids.get(s["id"], []))
            per = out.setdefault(s["layer"], {})
            per[rd["round"]] = per.get(rd["round"], 0.0) + (s["end_us"] - s["start_us"] - covered) / 1e6
    n = [rd["round"] for rd in res["rounds"]]
    return {layer: [per.get(r, 0.0) for r in n] for layer, per in out.items()}


def per_layer(workload, res, work, cores):
    """({metric: (value, unit, exact)}, printable table)."""
    rounds = per_round(workload, res, work, cores)
    measured = [i for i, rd in enumerate(res["rounds"]) if rd["phase"] == "measured"]
    metrics, lines = {}, []
    lines.append(f"{'metric':44s} {'first':>12s} {'warm median':>12s}  unit   repeats")
    for name in REPORTED[workload]:
        unit, counted = METRICS[name]
        vals = rounds[name]
        warm = [vals[i] for i in measured]
        med = statistics.median(warm)
        exact = counted and len(set(warm)) == 1
        metrics[name] = (med, unit, exact)
        tag = "exact" if exact else ("VARIES" if counted else "")
        lines.append(f"{name:44s} {vals[0]:12.4g} {med:12.4g}  {unit:6s} {tag}")
    lines.append(f"\n{'self time by layer':44s} {'first':>12s} {'warm median':>12s}")
    for layer, vals in sorted(self_times(res).items()):
        lines.append(f"{layer:44s} {vals[0]:12.4g} "
                     f"{statistics.median(vals[i] for i in measured):12.4g}  s")
    return metrics, "\n".join(lines)
