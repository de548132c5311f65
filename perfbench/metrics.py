"""Turns a harness artifact (op runs, spans, micro-batches, counters)
into the benchmark's metrics. Pure functions; `run.py` calls
`summarize`, the self-tests call the helpers directly."""
import statistics

# SparkEntry ops of each workload's pass (the harness's op lists).
ENTRY_OPS = {
    "etl_curation": ["pipeline_end_to_end", "agg_rfm_segments"],
    "stream_store": [],
}
STORE_STEPS = ["postings_maintain", "delete", "bm25_serve", "compact"]
# the traced run's AnnIndex lifecycle (layer calls)
ANN_STEPS = ["ann_init", "ann_maintain", "ann_delete", "ann_serve",
             "ann_compact", "ann_refresh"]
SERVES = {"streaming.bm25_serve"}
BATCH_PHASES = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                "query_planning_ms": "queryPlanning",
                "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
                "wal_commit_ms": "walCommit",
                "commit_offsets_ms": "commitOffsets"}
SPARK_SUMS = ["jobs", "stages", "tasks", "failed_tasks", "task_run_s",
              "task_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "output_bytes"]
PLAN_SUMS = ["sql_execs", "analysis_ms", "optimize_ms", "planning_ms",
             "exchanges", "smj", "bhj", "topk_rows_out"]
LAYER_CALLS = {
    "pipeline.enqueue_s": "s", "pipeline.parse_s": "s",
    "pipeline.write_back_s": "s", "functions.canonical_url_s": "s",
    "expressions.text_shingles_s": "s", "expressions.vector_kernels_s": "s",
    "dedup.minhash_signatures_s": "s", "dedup.minhash_pairs_s": "s",
    "dedup.simhash_pairs_s": "s", "dedup.embedding_pairs_s": "s",
    "dedup.candidate_precision": "ratio",
    "similarity.ivf_build_s": "s", "similarity.ivf_serve_s": "s",
    "similarity.bruteforce_topk_s": "s", "similarity.recall_at_k": "ratio",
    "ops.bm25_topk_s": "s", "ops.repetition_signals_s": "s",
    "ops.pagerank_s": "s", "ops.scd2_s": "s",
    "plans.ntile_distributed_s": "s",
}
LAYER_CALLS.update({f"streaming.{s}_s": "s" for s in ANN_STEPS})

E2E = ["pass_s", "setup_s"]
# per-layer metrics where more is better; every other one is a cost
HIGHER_BETTER = {"dedup.candidate_precision", "similarity.recall_at_k",
                 "spark.cpu_per_core_share"}


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _per_layer_names():
    names = [f"queries.{op}_s" for ops in ENTRY_OPS.values() for op in ops]
    names += [f"streaming.{s}_s" for s in STORE_STEPS]
    names += ["streaming.write_amp", "streaming.batches"]
    names += [f"streaming.{k}" for k in BATCH_PHASES]
    names += [f"spark.{k}" for k in SPARK_SUMS]
    names += ["spark.peak_exec_mem_bytes", "spark.driver_gap_s",
              "spark.driver_gap_share", "spark.cpu_per_core_share"]
    names += [f"plans.{k}" for k in PLAN_SUMS]
    names += sorted(LAYER_CALLS)
    names += ["cache.persisted_rdds_left", "jvm.peak_heap_mb",
              "trace.overhead_s"]
    return names


PER_LAYER = _per_layer_names()
UNITS = {n: LAYER_CALLS.get(n, _unit(n)) for n in PER_LAYER}
UNITS.update({"spark.driver_gap_share": "ratio",
              "spark.cpu_per_core_share": "ratio",
              "streaming.write_amp": "ratio", "trace.overhead_s": "s"})


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above
    it: (percentile, value, sample count), or None when there are not
    more than `beyond` samples."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return (100.0 * (i + 1) / n, s[i], n)


def self_time(start, end, children):
    """A span's duration minus the part of [start, end] its child
    intervals cover (overlapping children count once)."""
    covered = 0.0
    cur_s = cur_e = None
    for a, b in sorted((max(a, start), min(b, end)) for a, b in children):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def _m(value, unit):
    return {"value": value, "unit": unit}


def summarize(raw, verdict, cores):
    wl = raw["workload"]
    known = ENTRY_OPS[wl]
    if list(raw["entry_ops"]) != known:
        raise SystemExit(f"perfbench: op list of {wl} differs between the "
                         f"harness {raw['entry_ops']} and metrics.py {known}")
    runs = raw["runs"]
    spans = {s[0]: s for s in raw["spans"]}
    checks = {c["name"]: c for c in raw["checks"]}
    measured = [r for r in runs
                if r["pass"].startswith(("check", "timed", "traced"))]

    def ok(r):
        if r["error"]:
            return False
        name = r["name"]
        if name.startswith("queries."):
            return verdict.get(name[len("queries."):], False)
        return checks.get(name, {"ok": True})["ok"]

    failed = sum(1 for r in measured if not ok(r))
    all_checks = all(verdict.values()) and all(c["ok"] for c in raw["checks"])
    res = {"attempted": len(measured), "failed": failed,
           "correct": failed == 0 and all_checks,
           "end_to_end": {}, "per_layer": {}, "info": {}}
    info = res["info"]

    def passes(prefix):
        labels = sorted({r["pass"] for r in runs
                         if r["pass"].startswith(prefix)})
        return [[r for r in runs if r["pass"] == p] for p in labels]

    e2e = res["end_to_end"]
    pass_s = median(raw["timed_passes"])
    e2e["pass_s"] = _m(pass_s, "s")
    e2e["setup_s"] = _m(median(raw["session_s"]) + raw["warm_s"], "s")
    e2e["fail_frac"] = _m(failed / max(1, len(measured)), "ratio")
    timed = passes("timed")
    if wl == "stream_store":
        e2e["serve_s"] = _m(median([sum(r["s"] for r in p
                                        if r["name"] in SERVES)
                                    for p in timed]), "s")
        ids = {r["id"] for p in timed for r in p}
        trig = [b["triggerExecution"] for b in raw["batches"]
                if b["op"] in ids]
        e2e["batch_ms_p50"] = _m(median(trig), "ms")
        t = tail(trig)
        if t:
            e2e["batch_ms_tail"] = _m(t[1], "ms")
            info.update(batch_tail_pct=round(t[0], 1), batch_count=t[2])
        else:
            info.update(batch_tail_pct=None, batch_count=len(trig))
    info.update(session_s=raw["session_s"], warm_s=raw["warm_s"],
                warm_passes=raw["warm_passes"],
                timed_passes=raw["timed_passes"],
                traced_passes=raw["traced_passes"],
                prepare_s=raw["prepare_s"], check_s=raw["check_s"],
                cores=cores, checks=raw["checks"], verdict=verdict,
                op_s={n: median([r["s"] for p in timed for r in p
                                 if r["name"] == n])
                      for n in dict.fromkeys(r["name"] for p in timed
                                             for r in p)})
    info.update({f"workload.{k}": v for k, v in raw["info"].items()})
    if raw["traced"]:
        res["per_layer"] = _per_layer(raw, passes("traced"), spans, cores)
        res["spans"] = raw["spans"]
    return res


def _per_layer(raw, traced, spans, cores):
    work = {w["op"]: w for w in raw["work"]}
    plans = {p["op"]: p for p in raw["plans"]}
    pl = {n: 0.0 for n in PER_LAYER}

    def per_pass(f):
        return median([f(p) for p in traced])

    def op_ids(p):
        return [r["id"] for r in p]

    wl_ops = ENTRY_OPS[raw["workload"]]
    for op in wl_ops:
        pl[f"queries.{op}_s"] = per_pass(lambda p: sum(
            r["s"] for r in p if r["name"] == f"queries.{op}"))
    if raw["workload"] == "stream_store":
        for s in STORE_STEPS:
            pl[f"streaming.{s}_s"] = per_pass(lambda p: sum(
                r["s"] for r in p if r["name"] == f"streaming.{s}"))
        wave = raw["info"].get("wave_bytes", 0)
        pl["streaming.write_amp"] = per_pass(lambda p: sum(
            work.get(r["id"], {}).get("output_bytes", 0) for r in p
            if r["name"].startswith("streaming.")) / wave if wave else 0.0)
    for k in SPARK_SUMS:
        pl[f"spark.{k}"] = per_pass(lambda p: sum(
            work.get(i, {}).get(k, 0) for i in op_ids(p)))
    pl["spark.peak_exec_mem_bytes"] = max(
        [work.get(i, {}).get("peak_exec_mem_bytes", 0)
         for p in traced for i in op_ids(p)] or [0])

    def gap(p):
        total = 0.0
        for i in op_ids(p):
            sp = spans[i]
            total += self_time(sp[4], sp[5],
                               work.get(i, {}).get("job_intervals", []))
        return total
    pl["spark.driver_gap_s"] = per_pass(gap)
    traced_pass = median(raw["traced_passes"])
    if traced_pass:
        pl["spark.driver_gap_share"] = pl["spark.driver_gap_s"] / traced_pass
        pl["spark.cpu_per_core_share"] = \
            pl["spark.task_cpu_s"] / (cores * traced_pass)
    for k in PLAN_SUMS:
        pl[f"plans.{k}"] = per_pass(lambda p: sum(
            plans.get(i, {}).get(k, 0) for i in op_ids(p)))
    ids = lambda p: set(op_ids(p))  # noqa: E731
    for p_name, phase in BATCH_PHASES.items():
        pl[f"streaming.{p_name}"] = median(
            [b[phase] for p in traced for b in raw["batches"]
             if b["op"] in ids(p)])
    pl["streaming.batches"] = per_pass(lambda p: sum(
        1 for b in raw["batches"] if b["op"] in ids(p)))
    for k, v in raw["layers"].items():
        pl[k] = v
    pl["cache.persisted_rdds_left"] = per_pass(lambda p: sum(
        r["persisted_left"] for r in p))
    pl["jvm.peak_heap_mb"] = raw["jvm_peak_heap_mb"]
    pl["trace.overhead_s"] = traced_pass - median(raw["timed_passes"])
    return {n: _m(float(v), UNITS[n]) for n, v in pl.items()}
