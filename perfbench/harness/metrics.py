"""Metrics from a run's raw samples: the end-to-end set of an untraced run
and the per-layer set of a traced run. Each value is (value, unit,
sample count)."""
from . import stats

CURATION_STAGES = {
    "quality": "textanalysis.quality_s",
    "exact": "dedup.exact_s",
    "neardup": "dedup.neardup_s",
    "funnel": "pipeline.funnel_s",
    "export": "packing.export_s",
    "verify": "packing.verify_s",
}
KERNELS = {
    "wordcount": ["tokens_normalize"],
    "curation": ["nfc", "shingles", "minhash"],
    "query_mix": ["vec_dot", "hyperplane_buckets", "centroid_probes", "ln_f"],
}
SELF_LAYERS = ["workload", "query", "tables", "sparkentry", "plan", "exec", "textanalysis",
               "dedup", "pipeline", "packing", "spark.job", "spark.stage"]


def items_per_job(workload, facts):
    """The unit of work a job completes: words for wordcount, documents
    for curation, queries for query_mix."""
    return {"wordcount": facts.get("tokens"), "curation": facts.get("docs"),
            "query_mix": len(facts.get("queries", []))}[workload]


def query_samples(jobs):
    """Seconds of each engine call a client waits on: a registered query
    (query_mix), a chain stage (curation), or the whole Main.run job
    (wordcount)."""
    out = [s for j in jobs for _, s in j.get("queries", [])]
    return out or [j["wall"] for j in jobs]


def engine_cpu(job):
    """A job's process CPU seconds less its JIT compilers' share, which
    depends on where the job sits on the JVM's warm-up curve: 0.1-1.1 s per
    wordcount job after 15 s of warm-up, 6-10 s per query_mix pass."""
    return job["cpu"] - job["jit_cpu"]


def end_to_end(workload, raw, facts):
    jobs = [j for j in raw["jobs"] if not j["traced"]]
    walls = [j["wall"] for j in jobs]
    job_s = stats.median(walls)
    qs = query_samples(jobs)
    return {
        "setup_s": (stats.median(raw["setup_s"]), "s", len(raw["setup_s"])),
        "job_s": (job_s, "s", len(walls)),
        "items_per_s": (items_per_job(workload, facts) / job_s, "1/s", len(walls)),
        "input_mb_per_s": (raw["warmup_input_bytes"] / 1e6 / job_s, "MB/s", len(walls)),
        "query_s.p50": (stats.percentile(qs, 50), "s", len(qs)),
        "query_s.p90": (stats.percentile(qs, 90), "s", len(qs)),
    }


def layer(workload, raw, facts):
    """Per-layer metrics of a traced run, per traced job unless a name
    says otherwise; a metric of a layer the workload does not cross is 0."""
    tr = raw["trace"]
    traced = [j for j in raw["jobs"] if j["traced"]]
    untraced = [j for j in raw["jobs"] if not j["traced"]]
    n = len(traced)
    c = tr["counters"]
    spans = tr["spans"]

    def per_job(key):
        return c.get(key, 0.0) / n

    def span_s(layer_name, name=None):
        return sum(s[5] - s[4] for s in spans
                   if layer_name in (None, s[3]) and name in (None, s[2])) / n

    m = {}

    def put(name, value, unit, count=n):
        m[name] = (value, unit, count)

    builds = raw["session_build_s"]
    put("sessions.local_s", stats.median(builds), "s", len(builds))
    put("sessions.cold_s", raw["setup_s"][0], "s", 1)
    put("jvm.peak_rss_mb", raw["peak_rss_mb"], "MB", 1)
    put("jvm.cpu_s", stats.median([engine_cpu(j) for j in traced]), "s")
    put("jvm.jit_cpu_s", stats.median([j["jit_cpu"] for j in traced]), "s")
    put("tables.input_bytes", per_job("tables.input_bytes"), "bytes")
    put("tables.input_rows", per_job("tables.input_rows"), "count")
    put("tables.load_s", span_s("tables"), "s")
    put("sparkentry.build_s", span_s("sparkentry"), "s")
    put("sparkentry.build_jobs", per_job("sparkentry.build_jobs"), "count")
    put("sparkentry.build_job_s", per_job("sparkentry.build_job_s"), "s")

    phases = [p for j in traced for p in j.get("plan", [])]
    for ph in ("analysis", "optimization", "planning"):
        put(f"plan.{ph}_s", sum(p.get(ph, 0.0) for p in phases) / n, "s")

    cores = raw["load"]["cores"]
    for key, unit in [("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
                      ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
                      ("exec.gc_s", "s"), ("exec.sched_delay_s", "s"),
                      ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
                      ("exec.shuffle_fetch_wait_s", "s"), ("exec.spill_bytes", "bytes"),
                      ("exec.task_failures", "count"), ("exec.unattributed_jobs", "count")]:
        put(key, per_job(key), unit)
    put("exec.slot_util", stats.ratio(c.get("exec.task_run_s", 0.0), c.get("exec.s", 0.0) * cores), "ratio")
    put("exec.task_skew", c.get("exec.task_skew", 0.0), "ratio")
    put("exec.peak_exec_mem_bytes", c.get("exec.peak_exec_mem_bytes", 0.0), "bytes")

    put("materialize.blocks", max([j.get("materialize_blocks", 0) for j in traced]), "count")
    put("materialize.cached_bytes", max([j.get("materialize_bytes", 0) for j in traced]), "bytes")

    wc = workload == "wordcount"
    tokens = facts.get("tokens", 0) if wc else 0
    put("wordcount.tokens", tokens, "count", 1)
    put("wordcount.distinct_words", facts.get("distinct_words", 0) if wc else 0, "count", 1)
    put("wordcount.combine_ratio",
        stats.ratio(per_job("exec.shuffle_write_records"), tokens) if wc else 0.0, "ratio")

    cur = workload == "curation"
    out = raw.get("facts", {}) if cur else {}
    pairs = {tuple(p[:2]) for p in out.get("pairs", [])}
    planted = [tuple(p) for p in facts.get("planted_pairs", [])] if cur else []
    candidates = tr["layers"].get("candidate_pairs", 0)
    put("dedup.candidate_pairs", candidates, "count", 1)
    put("dedup.verified_pairs", len(pairs), "count", 1)
    put("dedup.verify_yield", stats.ratio(len(pairs), candidates), "ratio", 1)
    put("dedup.planted_recall", stats.ratio(sum(p in pairs for p in planted), len(planted)), "ratio", 1)
    for stage, key in CURATION_STAGES.items():
        put(key, span_s(None, stage) if cur else 0.0, "s")
    put("packing.bytes_written", max([j.get("export_bytes", 0) for j in traced]), "bytes")

    for w, names in KERNELS.items():
        for k in names:
            put(f"functions.{k}.rows_per_s", tr["kernels"].get(k, 0.0) if w == workload else 0.0, "1/s", 5)

    batches = tr["stream_batch_s"]
    stream_q = [s for s in spans if s[3] == "query" and s[2].startswith("q_stream_")]
    stream_build = sum(s[5] - s[4] for s in spans
                       if s[3] == "sparkentry" and s[1] in {q[0] for q in stream_q})
    put("streaming.batches", len(batches) / n, "count")
    put("streaming.batch_s", stats.median(batches) if batches else 0.0, "s", len(batches))
    put("streaming.build_share", stats.ratio(stream_build, sum(s[5] - s[4] for s in stream_q)), "ratio")

    put("trace.overhead", stats.ratio(stats.median([j["wall"] for j in traced]),
                                      stats.median([j["wall"] for j in untraced])), "ratio")
    job_spans = [s for s in spans if s[3] == "workload"]
    phase_s = sum(s[5] - s[4] for s in spans
                  if s[3] in ("sparkentry", "plan", "exec", "tables") or s[2] in CURATION_STAGES)
    put("trace.unaccounted_s", (sum(s[5] - s[4] for s in job_spans) - phase_s) / n, "s")
    self_s = stats.self_times(spans)
    for lay in SELF_LAYERS:
        put(f"self_s.{lay}", self_s.get(lay, 0.0) / n, "s")
    return m


def report(workload, raw, values, attempted, failures):
    """Human-readable lines before the result line: each metric with its
    unit and sample count, the tail-percentile rule, and load markers."""
    print(f"# perfbench {workload}: {len(raw['jobs'])} jobs in {raw['loop_s']:.1f} s "
          f"(warm-up {raw['warmup_s']:.1f} s), {attempted} attempted, {len(failures)} failed")
    for name, (v, unit, count) in values.items():
        print(f"#   {name:38s} {v:>16.6g} {unit:6s} n={count}")
    qs = query_samples([j for j in raw["jobs"] if not j["traced"]])
    tail = stats.tail_percentile(len(qs))
    print(f"#   query samples n={len(qs)}; highest percentile with >=10 samples beyond it: "
          f"{'p%g' % tail if tail else 'none'}")
    print(f"#   load: {raw['load']}")
    for f in failures:
        print(f"# FAILED: {f}")
