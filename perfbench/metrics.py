"""Derive the benchmark's metrics from the raw samples a harness JVM writes.

End-to-end metrics come from untraced runs; per-layer metrics from a traced
run's spans. See perfbench/README.md for each metric's definition.
"""
import statistics
from collections import defaultdict

import stats

WRITE_KINDS = ["plain", "partitioned", "bloom", "zorder", "compact", "avro"]


def op_ms(o):
    return o["define_ms"] + o["action_ms"]


def timed(raw):
    return [p for p in raw["passes"] if p["kind"] == "timed"]


def _med0(xs):
    return stats.median(xs) if xs else 0.0


def workload_metrics(raw):
    """Metrics that apply to one workload only: the write rate, stored
    bytes and lookup latency of ingest-lookup. Empty for the others."""
    ts = timed(raw)
    out = {}
    writes = [[o for o in p["ops"] if o["kind"] == "write"] for p in ts]
    if any(writes):
        rates = [sum(o["source_bytes"] for o in w) / 1e6 / (sum(op_ms(o) for o in w) / 1e3)
                 for w in writes]
        out["write_mb_s"] = stats.median(rates)
        written = sum(v["bytes"] for v in raw["written"].values())
        source = sum(o["source_bytes"] for o in writes[0])
        out["stored_bytes_ratio"] = written / source
    lookups = [op_ms(o) for p in ts for o in p["ops"] if o["kind"] == "lookup"]
    if lookups:
        out["lookup_p50_ms"] = stats.median(lookups)
        t = stats.tail(lookups)
        out["lookup_tail_ms"] = t[1] if t else max(lookups)
        out["lookup_tail"] = {"pct": t[0] if t else 100, "n": len(lookups)}
    return out


def pooled_ops(raw):
    """(op_p50_ms, op_tail_ms, tail description) over every timed op."""
    pooled = [op_ms(o) for p in timed(raw) for o in p["ops"]]
    t = stats.tail(pooled)
    return (stats.median(pooled), t[1] if t else max(pooled),
            {"pct": t[0] if t else 100, "n": len(pooled)})


def end_to_end(raw, setups):
    """(metrics, details) of an untraced run; `setups` are the set-up
    times of every JVM the run started."""
    ts = timed(raw)
    by_op = defaultdict(list)
    for p in ts:
        for o in p["ops"]:
            by_op[o["name"]].append(op_ms(o))
    p50, tail, tail_desc = pooled_ops(raw)
    m = {
        "setup_s": stats.median(setups),
        "cold_pass_s": raw["passes"][0]["wall_s"],
        "warm_pass_s": stats.median([p["wall_s"] for p in ts]),
        "op_geomean_ms": stats.geomean([stats.median(v) for v in by_op.values()]),
        "op_p50_ms": p50,
        "op_tail_ms": tail,
    }
    details = {
        "op_tail": tail_desc,
        "op_median_ms": {k: stats.median(v) for k, v in sorted(by_op.items())},
        "warm_curve_s": [round(p["wall_s"], 4) for p in raw["passes"]],
        "setup_samples_s": setups,
    }
    return m, details


def per_layer(raw, spans, cores):
    """(metrics, layer table) of a traced run. Per-pass quantities are the
    median over the traced timed passes; `.cold` ones are the cold pass."""
    setup = raw["setup"]
    passes = raw["passes"]
    traced_timed = [p["index"] for p in passes if p["kind"] == "timed" and p["traced"]]
    untraced_timed = [p["wall_s"] for p in passes if p["kind"] == "timed" and not p["traced"]]
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    jobs, stages, tasks = by_name["job"], by_name["stage"], by_name["task"]
    qes = by_name["query_execution"]
    phases = [s for s in spans if s["name"].startswith("catalyst.")]
    defines = {(s["op"], s["pass"], s["parent"]): s for s in by_name["define"]}

    def pass_stats(pi):
        ops = [s for s in spans if s["name"] == "op" and s["pass"] == pi]
        d = defaultdict(float)
        for op in ops:
            lo, hi = op["start"], op["end"]
            define = defines.get((op["op"], pi, op["id"]))
            # jobs carry the op's span id; jobs started from a thread that
            # did not inherit it are attributed by time
            op_jobs = [j for j in jobs if j["parent"] == op["id"]
                       or (j["parent"] == 0 and lo <= j["start"] <= hi)]
            job_ids = {j["id"] for j in op_jobs}
            op_tasks = [t for t in tasks if t["parent"] in job_ids]
            job_iv = stats.clip([(j["start"], j["end"]) for j in op_jobs], lo, hi)
            task_iv = stats.clip([(t["start"], t["end"]) for t in op_tasks], lo, hi)
            ph = [p for p in phases if lo <= (p["start"] + p["end"]) / 2 <= hi]
            op_qes = [q for q in qes if lo <= (q["start"] + q["end"]) / 2 <= hi]
            wall = hi - lo
            if define:
                d["define_ms"] += define["end"] - define["start"]
                d["define_jobs"] += sum(1 for j in op_jobs if j["start"] <= define["end"])
            for p in ph:
                d[p["name"]] += p["end"] - p["start"]
            d["exchanges"] += sum(q["exchanges"] for q in op_qes)
            d["jobs"] += len(op_jobs)
            d["tasks"] += len(op_tasks)
            d["task_run_ms"] += sum(t["run_ms"] for t in op_tasks)
            d["task_cpu_ms"] += sum(t["cpu_ms"] for t in op_tasks)
            d["gc_ms"] += sum(t["gc_ms"] for t in op_tasks)
            d["shuffle_read"] += sum(t["shuffle_read"] for t in op_tasks)
            d["shuffle_write"] += sum(t["shuffle_write"] for t in op_tasks)
            d["spill"] += sum(t["spill"] for t in op_tasks)
            d["scan_bytes"] += sum(t["in_bytes"] for t in op_tasks)
            d["scan_records"] += sum(t["in_records"] for t in op_tasks)
            d["sched_wait_ms"] += wall - stats.union_ms(task_iv)
            d["wall_ms"] += wall
            if any(q["kernels"] for q in op_qes):
                d["kernel_run_ms"] += sum(t["run_ms"] for t in op_tasks)
            if op.get("kind") == "lookup":
                d["lookup_in_bytes"] += sum(t["in_bytes"] for t in op_tasks)
                d["lookups"] += 1
            # self time by layer: define with no job running, planning
            # outside jobs, jobs with tasks running, jobs with none, rest
            cat_iv = stats.clip([(p["start"], p["end"]) for p in ph], lo, hi)
            def_iv = [(lo, define["end"])] if define else []
            covered = stats.union_ms(job_iv + cat_iv + def_iv)
            jobs_u = stats.union_ms(job_iv)
            d["self.jobs_tasks_running"] += stats.union_ms(stats.clip(task_iv, lo, hi))
            d["self.jobs_no_task"] += jobs_u - stats.union_ms(task_iv)
            d["self.catalyst_outside_jobs"] += stats.union_ms(job_iv + cat_iv) - jobs_u
            d["self.define_no_job_no_catalyst"] += covered - stats.union_ms(job_iv + cat_iv)
            d["self.unattributed"] += wall - covered
            d[f"unattributed.{op['op']}"] += wall - covered
        pass_jobs = {j["id"] for op in ops for j in jobs if j["parent"] == op["id"]}
        pass_stages = [s for s in stages if s["parent"] in pass_jobs]
        d["stages"] = len(pass_stages)
        return d, pass_stages

    per_pass = [pass_stats(pi) for pi in traced_timed]
    cold, _ = pass_stats(0)

    def med(key):
        return _med0([d[key] for d, _ in per_pass])

    stage_ratios, scan_ratios = [], []
    task_by_stage = defaultdict(list)
    for t in tasks:
        task_by_stage[(t["parent"], t["stage"])].append(t)
    for d, st in per_pass:
        for s in st:
            ts = task_by_stage.get((s["parent"], s["stage"]), [])
            runs = [t["run_ms"] for t in ts]
            if len(runs) >= 2 and stats.median(runs) > 0:
                stage_ratios.append(max(runs) / stats.median(runs))
            if sum(t["in_bytes"] for t in ts) > 0:
                scan_ratios.append(s["tasks"] / cores)

    ts = timed(raw)
    counters_timed = [p["counters"] for p in ts]
    write_ms = {k: _med0([op_ms(o) for p in ts for o in p["ops"] if o["name"] == k])
                for k in WRITE_KINDS}
    footer = [op_ms(o) for p in ts for o in p["ops"] if o["kind"] == "footer"]
    lookups = [o for p in ts for o in p["ops"] if o["kind"] == "lookup"]
    written = raw.get("written", {})
    bloom_files = written.get("bloom", {}).get("files", 0)
    bloom_bytes = written.get("bloom", {}).get("bytes", 0)
    n_lookups_traced = med("lookups")
    wm = workload_metrics(raw)
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"])

    p50, tail, _ = pooled_ops(raw)
    m = {
        "op_p50_ms": p50,
        "op_tail_ms": tail,
        "engine.session_ms": setup["session_ms"],
        "tables.resolve_ms": setup["tables_ms"],
        "queries.define_ms": med("define_ms"),
        "queries.define_ms.cold": cold["define_ms"],
        "queries.define_jobs": med("define_jobs"),
        "queries.define_jobs.cold": cold["define_jobs"],
        "queries.layout_builds": raw.get("sink", {}).get("layout_builds", 0),
        "catalyst.analysis_ms": med("catalyst.analysis"),
        "catalyst.optimization_ms": med("catalyst.optimization"),
        "catalyst.planning_ms": med("catalyst.planning"),
        "catalyst.exchanges": med("exchanges"),
        "codegen.compiles": passes[0]["counters"]["codegen_compiles"],
        "codegen.compile_ms": passes[0]["counters"]["codegen_compile_ms"],
        "jvm.jit_ms": passes[0]["counters"]["jit_ms"],
        "codegen.warm_compiles": sum(c["codegen_compiles"] for c in counters_timed),
        "exec.jobs": med("jobs"), "exec.stages": med("stages"), "exec.tasks": med("tasks"),
        "exec.sched_wait_ms": med("sched_wait_ms"),
        "exec.task_run_ms": med("task_run_ms"), "exec.task_cpu_ms": med("task_cpu_ms"),
        "exec.gc_ms": med("gc_ms"),
        "exec.parallelism": _med0([d["task_run_ms"] / d["wall_ms"] for d, _ in per_pass if d["wall_ms"]]),
        "exec.straggler_ratio": _med0(stage_ratios),
        "exec.shuffle_read_bytes": med("shuffle_read"),
        "exec.shuffle_write_bytes": med("shuffle_write"),
        "exec.spill_bytes": med("spill"),
        "kernels.task_run_ms": med("kernel_run_ms"),
        "sources.scan_tasks_per_core": _med0(scan_ratios),
        "sources.scan_bytes": med("scan_bytes"),
        "sources.scan_records": med("scan_records"),
        **{f"sources.write_ms.{k}": v for k, v in write_ms.items()},
        "sources.write_bytes": sum(v["bytes"] for v in written.values()),
        "sources.write_files": sum(v["files"] for v in written.values()),
        "sources.write_rowgroups": sum(v["row_groups"] for v in written.values()),
        "sources.footer_ms": _med0(footer),
        "sources.lookup_files_ratio": (sum(o["files"] for o in lookups) / (len(lookups) * bloom_files)
                                       if lookups and bloom_files else 0.0),
        "sources.lookup_bytes_ratio": (med("lookup_in_bytes") / (n_lookups_traced * bloom_bytes)
                                       if n_lookups_traced and bloom_bytes else 0.0),
        "write_mb_s": wm.get("write_mb_s", 0.0),
        "stored_bytes_ratio": wm.get("stored_bytes_ratio", 0.0),
        "lookup_p50_ms": wm.get("lookup_p50_ms", 0.0),
        "lookup_tail_ms": wm.get("lookup_tail_ms", 0.0),
        "fail_frac": failed / attempted,
        "jvm.peak_rss_mb": raw["peak_rss_mb"],
        "bench.datagen_s": raw.get("datagen_s", 0.0),
        # traced and untraced timed passes are mirrored about the middle pass
        # (Runner.passes), so a linear warm-up trend cancels in the means
        "trace.overhead_s": (statistics.fmean([p["wall_s"] for p in passes if p["index"] in traced_timed])
                             - statistics.fmean(untraced_timed)) if traced_timed and untraced_timed else 0.0,
    }
    layers = {k[len("self."):]: med(k) for k in sorted({k for d, _ in per_pass for k in d})
              if k.startswith("self.")}
    unattributed = {k[len("unattributed."):]: med(k) for k in sorted({k for d, _ in per_pass for k in d})
                    if k.startswith("unattributed.")}
    return m, {"self_ms_per_pass": layers, "unattributed_ms_per_op": unattributed,
               "traced_passes": traced_timed}
