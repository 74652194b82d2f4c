"""Per-layer metrics from a traced run's records (records.jsonl).

The harness writes spans for the run, set-up steps, layer builds, and each
timed query with its construct and action parts; Spark's listeners add jobs,
stages (with task totals), SQL executions, micro-batches, kernel rounds and
layer rebuilds. Jobs name the span that submitted them; everything else is
attributed to the innermost harness span whose interval holds its start time.
A span's self time is its duration minus the part of it its children cover.
"""

BUILDERS = {"layer_backed"}
TIMED = ("construct", "action")
MB = float(1 << 20)


def harness_spans(records):
    return {r["id"]: r for r in records if r["k"] == "span"}


def innermost(spans, t):
    """The shortest harness span below the run whose interval holds t."""
    best = None
    for s in spans.values():
        if s["kind"] in ("run", "setup", "query", "warm"):
            continue
        if s["start"] <= t <= s["end"] and (
                best is None or s["end"] - s["start"] < best["end"] - best["start"]):
            best = s
    return best


def all_spans(records):
    """Harness spans plus job, stage and batch spans, each with a parent."""
    spans = harness_spans(records)
    out = {sid: dict(s) for sid, s in spans.items()}
    ends = {r["job"]: r["time"] for r in records if r["k"] == "job_end"}
    for r in records:
        if r["k"] == "job_start":
            parent = int(r["span"]) if r["span"] else None
            if parent not in spans:
                hit = innermost(spans, r["time"])
                parent = hit["id"] if hit else None
            out[f"job{r['job']}"] = {"id": f"job{r['job']}", "parent": parent, "kind": "job",
                                     "name": f"job {r['job']}", "start": r["time"],
                                     "end": max(r["time"], ends.get(r["job"], r["time"]))}
    for r in records:
        if r["k"] == "stage" and f"job{r['job']}" in out:
            out[f"stage{r['stage']}.{r['attempt']}"] = {
                "id": f"stage{r['stage']}.{r['attempt']}", "parent": f"job{r['job']}",
                "kind": "stage", "name": f"stage {r['stage']}", "start": r["start"],
                "end": max(r["start"], r["end"]), "rec": r}
        elif r["k"] == "batch":
            hit = innermost(spans, r["time"])
            dur = r["duration_ms"].get("triggerExecution", 0) * 1000
            out[f"batch{r['query']}.{r['batch']}.{r['time']}"] = {
                "id": f"batch{r['query']}.{r['batch']}.{r['time']}",
                "parent": hit["id"] if hit else None, "kind": "batch",
                "name": f"batch {r['batch']}", "start": r["time"], "end": r["time"] + dur,
                "rec": r}
    return out


def self_times(spans):
    """Self time (us) of every span: its duration minus the union of its
    children's intervals, each clipped to the parent."""
    kids = {}
    for s in spans.values():
        kids.setdefault(s.get("parent"), []).append(s)
    out = {}
    for sid, s in spans.items():
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(sid, []))
        covered, cur_a, cur_b = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[sid] = (s["end"] - s["start"]) - covered
    return out


def per_layer(records, rows_by_query, written_bytes):
    """Every per-layer metric, as {name: (value, unit)}. `rows_by_query` holds
    each query's result rows; `written_bytes` what the run left in the bench
    scale's caches."""
    hs = harness_spans(records)
    spans = all_spans(records)
    selfs = self_times(spans)
    execs = [r for r in records if r["k"] == "exec" and r["pass"] > 0]
    meta = next(r for r in records if r["k"] == "meta")
    n_exec = max(1, len(execs))
    timed_ids = {sid for sid, s in hs.items() if s["kind"] in TIMED}
    builder_ids = {sid for sid, s in hs.items()
                   if (s["kind"] == "setup_step" and s["name"] in BUILDERS) or s["kind"] == "layer"}

    def at(t):
        return innermost(hs, t)

    def in_timed(t):
        s = at(t)
        return s is not None and s["id"] in timed_ids

    stages_timed, stages_build = [], []
    for s in spans.values():
        if s["kind"] != "stage":
            continue
        job = spans.get(s["parent"])
        owner_span = hs.get(job["parent"]) if job else None
        if owner_span is None:
            continue
        if owner_span["id"] in timed_ids:
            stages_timed.append((owner_span, s["rec"]))
        elif owner_span["id"] in builder_ids:
            stages_build.append(s["rec"])
    jobs_timed = [s for s in spans.values() if s["kind"] == "job" and s["parent"] in timed_ids]

    def stage_sum(key, recs=None):
        return sum(r[key] for _, r in stages_timed) if recs is None else sum(r[key] for r in recs)

    sql = [r for r in records if r["k"] == "sqlexec" and in_timed(r["time"])]
    phase = lambda p: sum(r["phases_ms"].get(p, 0) for r in sql) / 1e3
    graft_rules = [v for r in sql for v in r["graft_rules"].values()]
    g_runs = sum(v[1] for v in graft_rules)
    rule_runs = sum(r.get("rule_runs", 0) for r in execs)
    # no member runs an iterative kernel: the rounds are set-up's PageRank-shape warm-up
    rounds = [r for r in records if r["k"] == "round"]
    batches = [s["rec"] for s in spans.values()
               if s["kind"] == "batch" and s["parent"] in timed_ids]
    dur = lambda key: sum(b["duration_ms"].get(key, 0) for b in batches) / 1e3

    # a gate's time outside its micro-batches: execution seconds minus the
    # trigger time of the batches that ran inside it
    trig_by_q = {}
    for s in spans.values():
        if s["kind"] == "batch" and s["parent"] in timed_ids:
            key = (hs[s["parent"]]["q"], hs[s["parent"]]["pass"])
            trig_by_q[key] = trig_by_q.get(key, 0) + s["rec"]["duration_ms"].get("triggerExecution", 0)
    outside = sum(r["seconds"] - trig_by_q[(r["q"], r["pass"])] / 1e3
                  for r in execs if (r["q"], r["pass"]) in trig_by_q)

    # MapReduce-API queries: shuffle records written per output row
    mr_shuffle = sum(rec["shuffle_write_records"] for own, rec in stages_timed
                     if own["q"].startswith("mr_"))
    mr_rows = sum(rows_by_query.get(r["q"], 0) for r in execs if r["q"].startswith("mr_"))

    build_in = stage_sum("input_bytes", stages_build)
    conf_offenders = {r["q"] for r in records
                      if r["k"] in ("exec", "layer_conf") and r["conf_changed"]}
    rebuilds = [r for r in records if r["k"] == "rebuild" and in_timed(r["time"])]

    return {
        "queries.construct_s": (sum(s["end"] - s["start"] for s in hs.values()
                                    if s["kind"] == "construct") / 1e6, "s"),
        "queries.construct_self_s": (sum(selfs[sid] for sid, s in hs.items()
                                         if s["kind"] == "construct") / 1e6, "s"),
        "queries.sql_executions": (len(sql) / n_exec, "count"),
        "queries.conf_leaks": (len(conf_offenders), "count"),
        "catalyst.analysis_s": (phase("analysis") +
                                sum(r.get("df_analysis_ms", 0) for r in execs) / 1e3, "s"),
        "catalyst.optimization_s": (phase("optimization"), "s"),
        "catalyst.planning_s": (phase("planning"), "s"),
        "catalyst.rule_s": (sum(r.get("rule_ns", 0) for r in execs) / 1e9, "s"),
        "catalyst.rule_effective_ratio": (
            sum(r.get("rule_effective_runs", 0) for r in execs) / max(1, rule_runs), "ratio"),
        "plans.rule_s": (sum(v[0] for v in graft_rules) / 1e9, "s"),
        "plans.rule_runs": (g_runs, "count"),
        "plans.rule_effective_ratio": (sum(v[2] for v in graft_rules) / max(1, g_runs), "ratio"),
        "codegen.compiles": (meta["codegen_compiles"], "count"),
        "codegen.compile_s": (meta["codegen_compile_ns"] / 1e9, "s"),
        "exec.jobs": (len(jobs_timed), "count"),
        "exec.stages": (len(stages_timed), "count"),
        "exec.tasks": (stage_sum("tasks"), "count"),
        "exec.task_run_s": (stage_sum("run_ms") / 1e3, "s"),
        "exec.task_cpu_s": (stage_sum("cpu_ns") / 1e9, "s"),
        "exec.sched_wait_s": (stage_sum("wait_ms") / 1e3, "s"),
        "exec.shuffle_write_mb": (stage_sum("shuffle_write_bytes") / MB, "MB"),
        "exec.shuffle_read_mb": (stage_sum("shuffle_read_bytes") / MB, "MB"),
        "exec.spill_mb": (stage_sum("spill_bytes") / MB, "MB"),
        "exec.input_mb": (stage_sum("input_bytes") / MB, "MB"),
        "exec.failed_tasks": (stage_sum("failed_tasks"), "count"),
        "exec.action_self_s": (sum(selfs[sid] for sid, s in hs.items()
                                   if s["kind"] == "action") / 1e6, "s"),
        "jvm.gc_s": (sum(r.get("gc_ms", 0) for r in execs) / 1e3, "s"),
        "operators.kernel_rounds": (len(rounds), "count"),
        "operators.round_s": (sum(r["secs"] for r in rounds), "s"),
        "mr.shuffle_records_per_row": (mr_shuffle / mr_rows if mr_rows else 0.0, "ratio"),
        "sources.layer_build_s": (sum(s["end"] - s["start"] for s in hs.values()
                                      if s["kind"] == "setup_step" and s["name"] in BUILDERS) / 1e6, "s"),
        "sources.written_mb": (written_bytes / MB, "MB"),
        "sources.write_amp": (written_bytes / build_in if build_in else 0.0, "ratio"),
        "sources.timed_rebuilds": (len(rebuilds), "count"),
        "streaming.batches": (len(batches), "count"),
        "streaming.input_rows": (sum(b["input_rows"] for b in batches), "count"),
        "streaming.trigger_s": (dur("triggerExecution"), "s"),
        "streaming.wal_commit_s": (dur("walCommit"), "s"),
        "streaming.commit_offsets_s": (dur("commitOffsets"), "s"),
        "streaming.latest_offset_s": (dur("latestOffset"), "s"),
        "streaming.query_planning_s": (dur("queryPlanning"), "s"),
        "streaming.add_batch_s": (dur("addBatch"), "s"),
        "streaming.state_commit_s": (sum(b["state_commit_ms"] for b in batches) / 1e3, "s"),
        "streaming.outside_batch_s": (outside, "s"),
    }
