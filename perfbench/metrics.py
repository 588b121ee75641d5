"""Turns one run's raw samples (raw.json from the benchmark JVM) and output
verdicts into the printed report and the final JSON line."""
import json
import os

from stats import fail_ratio, median, nearest_rank, self_times, tail, union_length

END_TO_END = [  # name, unit; the same list as BENCHMARK.json
    ("setup_s", "s"), ("pass_s_p50", "s"), ("job_s_p50", "s"), ("mb_per_s", "MB/s"),
]
# operator modules of graft.operators / graft.streaming, for op.<Module>.s
MODULES = ["Bucketing", "DataQuality", "Dedup", "EventStream", "Graph", "Indexing",
           "Interchange", "Layout", "Multimodal", "Packing", "Pipeline", "Ranking",
           "Relational", "Sampling", "Similarity", "Sketches", "Skew", "TextAnalysis",
           "WordCount"]
JOB_MODULES = {"wc_text_dir": "WordCount", "wc_parquet": "WordCount",
               "wc_mapreduce_api": "WordCount"}
SELF_LAYERS = ["pass", "job", "catalyst", "exec", "sink", "spark"]
PER_LAYER = (
    [("session.start_s", "s"), ("session.warmup_s", "s"), ("session.cached_mb", "MB"),
     ("sources.scan_s", "s"), ("sources.input_mb", "MB"), ("sources.input_rows", "count"),
     ("sources.scan_tasks", "count"),
     ("index.misses", "count"), ("index.build_s", "s"), ("index.cold_misses", "count"),
     ("index.cold_build_s", "s"),
     ("kernel.tokenize_s", "s"), ("kernel.minhash_s", "s"), ("kernel.simhash_s", "s"),
     ("core.mapreduce_s", "s"), ("core.typed_overhead", "ratio")]
    + [(f"op.{m}.s", "s") for m in MODULES]
    + [("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
       ("dedup.pair_yield", "ratio"), ("dedup.hot_bucket_rows", "count"),
       ("dedup.max_bucket_n", "count"),
       ("plan.build_s", "s"), ("plan.eager_jobs", "count"), ("plan.optimize_s", "s"),
       ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
       ("exec.tasks", "count"), ("exec.tasks_per_stage", "ratio"), ("exec.task_s", "s"),
       ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.busy_ratio", "ratio"),
       ("exec.driver_gap_s", "s"),
       ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.spill_mb", "MB"),
       ("shuffle.skew", "ratio"),
       ("stream.batches", "count"), ("stream.batch_s_p50", "s"), ("stream.state_rows", "count"),
       ("stream.state_mb", "MB"),
       ("sink.write_s", "s"), ("sink.out_mb", "MB"), ("sink.out_per_in", "ratio"),
       ("trace.overhead", "ratio")]
    + [(f"self.{layer}_s", "s") for layer in SELF_LAYERS]
)


def input_bytes(workload, props):
    """On-disk bytes of the inputs one pass reads."""
    if workload == "wordcount":
        return props["txt_bytes"] + props["parquet_bytes"]
    return props["bytes"]


def _spark_spans(events, next_id):
    """Spark jobs as spans (layer ``spark``), from the listener events."""
    starts, out = {}, []
    for e in events:
        if e["ev"] == "job_start":
            starts[e["job"]] = e["t"] * 1000
        elif e["ev"] == "job_end" and e["job"] in starts:
            out.append({"id": next_id + len(out), "parent": -1, "name": f"job{e['job']}",
                        "layer": "spark", "pass": -1, "start": starts[e["job"]],
                        "end": e["t"] * 1000})
    return out


def _parent_spark_spans(spans, jobs):
    """A Spark job's parent is the innermost benchmark span it started in."""
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["start"] <= s["end"] and (
                    best is None or s["end"] - s["start"] < best["end"] - best["start"]):
                best = s
        if best is not None:
            j["parent"], j["pass"] = best["id"], best["pass"]


def _layer_metrics(raw, jobs_by_pass, modules, cores, run_dir):
    t = raw["trace"]
    spans = [{"id": s["id"], "parent": s["parent"], "name": s["name"], "layer": s["layer"],
              "pass": s["pass"], "start": s["start_us"], "end": s["end_us"]} for s in t["spans"]]
    events = t["events"]
    sjobs = _spark_spans(events, len(spans))
    _parent_spark_spans(spans, sjobs)
    all_spans = spans + sjobs
    with open(os.path.join(run_dir, "spans.json"), "w") as f:
        json.dump(all_spans, f)
    selft = self_times(all_spans)
    tasks = [e for e in events if e["ev"] == "task"]
    batches = [e for e in events if e["ev"] == "batch"]
    pass_spans = [s for s in spans if s["layer"] == "pass"]
    m = {}

    def per_pass(fn):
        return median([fn(p) for p in pass_spans]) if pass_spans else 0.0

    def within(p, t_us):
        return p["start"] <= t_us <= p["end"]

    def p_tasks(p):
        return [x for x in tasks if within(p, x["launch"] * 1000)]

    def p_spans(p, name=None, layer=None):
        return [s for s in all_spans if s["pass"] == p["pass"]
                and (name is None or s["name"] == name) and (layer is None or s["layer"] == layer)]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss) / 1e6

    def p_seconds(p):
        return (p["end"] - p["start"]) / 1e6

    def p_jobs(p):
        return jobs_by_pass.get(p["pass"], [])

    def probe_s(name):
        return dur([s for s in spans if s["name"] == name])

    m["session.start_s"] = raw["setup"]["start_s"]
    m["session.warmup_s"] = raw["setup"]["warmup_s"]
    m["session.cached_mb"] = median([p["cached_bytes"] for p in raw["passes"]]) / 1e6
    m["sources.scan_s"] = probe_s("sources.scan")
    m["sources.input_mb"] = per_pass(lambda p: sum(x["in_bytes"] for x in p_tasks(p))) / 1e6
    m["sources.input_rows"] = per_pass(lambda p: sum(x["in_rows"] for x in p_tasks(p)))
    m["sources.scan_tasks"] = per_pass(lambda p: sum(1 for x in p_tasks(p) if x["in_bytes"] > 0))
    m["index.misses"] = per_pass(lambda p: sum(j["index_misses"] for j in p_jobs(p)))
    m["index.build_s"] = per_pass(
        lambda p: sum(j["seconds"] for j in p_jobs(p) if j["index_misses"] > 0))
    m["index.cold_misses"] = t["counters"].get("index.cold_misses", 0.0)
    m["index.cold_build_s"] = probe_s("index.cold_build")
    m["kernel.tokenize_s"] = probe_s("kernel.tokenize")
    m["kernel.minhash_s"] = probe_s("kernel.minhash")
    m["kernel.simhash_s"] = probe_s("kernel.simhash")
    by_name = {}
    for js in jobs_by_pass.values():
        for j in js:
            by_name.setdefault(j["name"], []).append(j["seconds"])
    mr = median(by_name["wc_mapreduce_api"]) if "wc_mapreduce_api" in by_name else 0.0
    m["core.mapreduce_s"] = mr
    m["core.typed_overhead"] = mr / median(by_name["wc_parquet"]) if mr else 0.0
    for mod in MODULES:
        m[f"op.{mod}.s"] = per_pass(
            lambda p: sum(j["seconds"] for j in p_jobs(p) if modules.get(j["name"]) == mod))
    c = t["counters"]
    m["dedup.candidate_pairs"] = c.get("dedup.candidate_pairs", 0.0)
    m["dedup.verified_pairs"] = c.get("dedup.verified_pairs", 0.0)
    m["dedup.pair_yield"] = (m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]
                             if m["dedup.candidate_pairs"] else 0.0)
    m["dedup.hot_bucket_rows"] = c.get("dedup.hot_bucket_rows", 0.0)
    m["dedup.max_bucket_n"] = c.get("dedup.max_bucket_n", 0.0)
    builds = [s for s in spans if s["name"] == "plan.build"]
    m["plan.build_s"] = per_pass(lambda p: dur(p_spans(p, "plan.build")))
    m["plan.eager_jobs"] = per_pass(lambda p: sum(
        1 for j in sjobs if j["pass"] == p["pass"]
        and any(b["id"] == j["parent"] for b in builds)))
    m["plan.optimize_s"] = per_pass(lambda p: dur(p_spans(p, "plan.optimize")))

    def exec_s(p):
        return union_length([(max(j["start"], p["start"]), min(j["end"], p["end"]))
                             for j in sjobs if j["pass"] == p["pass"]]) / 1e6
    m["exec.s"] = per_pass(exec_s)
    m["exec.jobs"] = per_pass(lambda p: sum(1 for j in sjobs if j["pass"] == p["pass"]))
    m["exec.stages"] = per_pass(lambda p: len({x["stage"] for x in p_tasks(p)}))
    m["exec.tasks"] = per_pass(lambda p: len(p_tasks(p)))
    m["exec.tasks_per_stage"] = m["exec.tasks"] / m["exec.stages"] if m["exec.stages"] else 0.0
    m["exec.task_s"] = per_pass(lambda p: sum(x["run_ms"] for x in p_tasks(p)) / 1e3)
    m["exec.cpu_s"] = per_pass(lambda p: sum(x["cpu_ns"] for x in p_tasks(p)) / 1e9)
    m["exec.gc_s"] = per_pass(lambda p: sum(x["gc_ms"] for x in p_tasks(p)) / 1e3)
    m["exec.busy_ratio"] = per_pass(
        lambda p: sum(x["run_ms"] for x in p_tasks(p)) / 1e3 / (p_seconds(p) * cores))
    m["exec.driver_gap_s"] = per_pass(lambda p: p_seconds(p) - exec_s(p))
    m["shuffle.write_mb"] = per_pass(lambda p: sum(x["sh_write"] for x in p_tasks(p))) / 1e6
    m["shuffle.read_mb"] = per_pass(lambda p: sum(x["sh_read"] for x in p_tasks(p))) / 1e6
    m["shuffle.spill_mb"] = per_pass(lambda p: sum(x["spill"] for x in p_tasks(p))) / 1e6

    def skew(p):
        stages = {}
        for x in p_tasks(p):
            stages.setdefault(x["stage"], []).append(x)
        ratios = [max(x["run_ms"] for x in ts) / max(1.0, median([x["run_ms"] for x in ts]))
                  for ts in stages.values()
                  if len(ts) >= 2 and any(x["sh_read_rows"] > 0 for x in ts)]
        return max(ratios, default=0.0)
    m["shuffle.skew"] = per_pass(skew)
    # micro-batches of the streaming probe run
    pb = [b for s in spans if s["name"] == "stream.run" for b in batches
          if within(s, b["t"] * 1000)]
    m["stream.batches"] = len(pb)
    m["stream.batch_s_p50"] = median([b["ms"] / 1e3 for b in pb]) if pb else 0.0
    m["stream.state_rows"] = max((b["state_rows"] for b in pb), default=0)
    m["stream.state_mb"] = max((b["state_bytes"] for b in pb), default=0) / 1e6
    m["sink.write_s"] = per_pass(lambda p: dur(p_spans(p, "sink.write")))
    m["sink.out_mb"] = per_pass(lambda p: sum(x["out_bytes"] for x in p_tasks(p))) / 1e6
    m["sink.out_per_in"] = (m["sink.out_mb"] / m["sources.input_mb"]
                            if m["sources.input_mb"] else 0.0)
    # the window alternates untraced and traced passes, after a dropped one
    traced = [p["seconds"] for p in raw["passes"] if p["traced"]]
    untraced = [p["seconds"] for p in raw["passes"] if not p["traced"] and not p["dropped"]]
    m["trace.overhead"] = median(traced) / median(untraced)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = per_pass(
            lambda p: sum(selft[s["id"]] for s in p_spans(p, layer=layer)) / 1e6)
    return m


def compute(workload, raw, verdicts, props, modules, traced, run_dir):
    """Returns (report text, final JSON object)."""
    modules = dict(JOB_MODULES, **modules)
    jobs = raw["jobs"]
    traced_pass = {p["id"]: p["traced"] for p in raw["passes"]}
    timed = {p["id"] for p in raw["passes"] if not p["traced"] and not p["dropped"]}
    untraced_passes = [p for p in raw["passes"] if p["id"] in timed]
    job_s = [j["seconds"] for j in jobs if j["pass"] in timed]
    in_mb = input_bytes(workload, props) / 1e6
    e2e = {
        "setup_s": raw["setup"]["start_s"] + raw["setup"]["warmup_s"],
        "pass_s_p50": median([p["seconds"] for p in untraced_passes]),
        "job_s_p50": median(job_s),
        "mb_per_s": median([in_mb / p["seconds"] for p in untraced_passes]),
    }
    samples = {"setup_s": 1, "pass_s_p50": len(untraced_passes),
               "job_s_p50": len(job_s), "mb_per_s": len(untraced_passes)}
    failed = sum(1 for v in verdicts if v is not True)
    lines = [f"workload {workload}: {len(untraced_passes)} untraced passes, "
             f"{len(jobs)} jobs attempted, {failed} failed, cores={raw['cores']}"]
    for name, unit in END_TO_END:
        lines.append(f"  {name:<22} {e2e[name]:>12.4f} {unit:<6} n={samples[name]}")
    # a run has too few job samples for a gated tail; both are printed
    t = tail(job_s)
    tail_txt = f"{t[0]:.4f} s at p{t[1]:.1f}" if t else "n/a (fewer than 11 samples)"
    lines.append(f"  {'job_s_p90':<22} {nearest_rank(job_s, 90):>12.4f} s      n={len(job_s)}"
                 " (nearest rank)")
    lines.append(f"  {'job_s_tail':<22} {tail_txt} (highest percentile with >=10 samples beyond)")
    lines.append(f"  {'fail_ratio':<22} {fail_ratio(verdicts):>12.4f} ratio  n={len(verdicts)}")
    lines.append(f"  {'cached_mb':<22} "
                 f"{median([p['cached_bytes'] for p in untraced_passes]) / 1e6:>12.4f} MB     "
                 f"n={len(untraced_passes)}")
    per_job = {}
    for j in jobs:
        if j["pass"] in timed:
            per_job.setdefault(j["name"], []).append(j["seconds"])
    for name, xs in per_job.items():
        lines.append(f"    job {name:<34} p50 {median(xs):8.4f} s  n={len(xs)}")

    if traced:
        jobs_by_pass = {}
        for j in jobs:
            if traced_pass[j["pass"]]:
                jobs_by_pass.setdefault(j["pass"], []).append(j)
        lm = _layer_metrics(raw, jobs_by_pass, modules, raw["cores"], run_dir)
        lines.append("per-layer (traced window, per pass unless noted):")
        for name, unit in PER_LAYER:
            lines.append(f"  {name:<24} {lm[name]:>14.4f} {unit}")
        metrics = {n: {"value": lm[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    result = {"correct": failed == 0, "attempted": len(verdicts), "failed": failed,
              "metrics": metrics}
    return "\n".join(lines), result
