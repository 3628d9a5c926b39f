"""Turns one workload run's raw records (``result.json`` from
perfbench.Main) into checked operations, end-to-end metrics, per-layer
metrics and trace spans."""
import os

import checks
from metrics import clip, fail_frac, median, owner, self_times, tail, union_length

MB = 1e6

E2E = [("setup_s", "s"), ("wall_s", "s"), ("items_per_s", "1/s"), ("op_p50_s", "s"),
       ("op_tail_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"), ("ok_frac", "ratio")]

LAYER = [
    ("etl.ingest_s", "s"), ("etl.scan_amplification", "ratio"), ("etl.fact_s", "s"),
    ("etl.time_dim_s", "s"), ("etl.user_dim_s", "s"), ("etl.other_dims_s", "s"),
    ("etl.sql_s", "s"), ("etl.table_share", "ratio"), ("etl.files_written", "count"),
    ("spark.write_s", "s"), ("quality.gate_s", "s"), ("quality.jobs", "count"),
    ("queries.relational_s", "s"), ("queries.analytics_s", "s"), ("queries.plan_s", "s"),
    ("spark.driver_s", "s"),
    ("memos.hits", "count"), ("memos.misses", "count"), ("memos.evictions", "count"),
    ("memos.hit_ratio", "ratio"),
    ("ops.dedup_s", "s"), ("ops.dedup_cpu_s", "s"), ("ops.similarity_s", "s"),
    ("ops.similarity_cpu_s", "s"), ("ops.text_s", "s"), ("ops.text_cpu_s", "s"),
    ("ops.classifier_s", "s"), ("ops.classifier_cpu_s", "s"),
    ("spark.shuffle_fetch_wait_s", "s"), ("spark.spill_mb", "MB"), ("spark.tasks", "count"),
    ("spark.stages", "count"), ("spark.narrow_stage_frac", "ratio"),
    ("spark.task_skew", "ratio"), ("spark.core_util", "ratio"),
    ("streaming.batches", "count"), ("streaming.batch_p50_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.startup_s", "s"), ("store.write_mb", "MB"),
    ("spark.scan_mb", "MB"), ("spark.scan_s", "s"), ("spark.gc_s", "s"),
    ("jvm.heap_peak_mb", "MB"), ("spark.written_mb", "MB"), ("spark.cached_peak_mb", "MB"),
    ("bench.fail_frac", "ratio"),
    ("spark.layer_scan_s", "s"), ("spark.layer_compute_s", "s"),
    ("spark.layer_exchange_s", "s"), ("spark.layer_write_s", "s"),
    ("spark.layer_sum_err_pct", "%"),
    ("trace.overhead_pct", "%"), ("trace.spans", "count"),
    ("trace.self_op_s", "s"), ("trace.self_etl_s", "s"), ("trace.self_quality_s", "s"),
    ("trace.self_queries_s", "s"), ("trace.self_spark_s", "s"), ("trace.self_job_s", "s"),
    ("trace.self_stage_s", "s"),
]

CORPUS_GROUPS = ["dedup", "similarity", "text", "classifier"]
ETL_TABLES = {"bikeshare_fact_table": "etl.fact_s", "dim_time_table": "etl.time_dim_s",
              "dim_user_agg_table": "etl.user_dim_s"}


def _data_files(path):
    """Files under ``path`` other than checksums and commit markers."""
    return sum(1 for _, _, names in os.walk(path)
               for n in names if not n.startswith((".", "_")))


def check(workload, raw, data, out, cfg):
    """Verdict (ok, problem) per operation, in ``raw['ops']`` order."""
    ops = raw["ops"]
    verdicts = [(o["ok"], o["error"] or None) for o in ops]
    extra = raw["workload_extra"]
    if workload == "elt_monthly":
        months = cfg["months"]
        dirs = [os.path.join(data, m) for m in months]
        raw["lake_files"] = []
        for p, lake in enumerate(extra["lakes"]):
            idx = [i for i, o in enumerate(ops) if o["pass"] == p]
            month_ok, problems = checks.check_elt(lake, dirs, months)
            raw["lake_files"].append(_data_files(lake))
            for i, ok in zip(idx, month_ok):
                if verdicts[i][0] and not ok:
                    verdicts[i] = (False, "; ".join(problems) or "lake check failed")
        return verdicts
    oracle = checks.check_oracles(str(data), os.path.join(out, "results"), extra["oracle_sql"])
    first = {}
    for o in ops:
        if o["pass"] == 0 and o["ok"]:
            first[o["name"]] = o
    for i, o in enumerate(ops):
        if not verdicts[i][0]:
            continue
        ref = first.get(o["name"])
        if ref is None:
            verdicts[i] = (False, "first pass failed")
        elif o["digest"] != ref["digest"]:
            verdicts[i] = (False, "result differs from the first pass")
        elif o["name"] in oracle and oracle[o["name"]] is not None:
            verdicts[i] = (False, f"oracle: {oracle[o['name']]}")
        elif o["name"] not in oracle and o["rows"] == 0:
            verdicts[i] = (False, "no rows and no oracle")
    return verdicts


def _attribute(raw, ops):
    """Jobs and stages owned by each op, by time window: operations
    run one after another, so the op whose window holds a job's start
    owns it."""
    windows = [(o["start_ms"], o["end_ms"]) for o in ops]
    col = raw["collector"]
    job_op = {}
    for j in col["jobs"]:
        k = owner(windows, j["start_ms"])
        if k is not None:
            job_op[j["id"]] = k
    stage_op = {}
    for s in col["stages"]:
        k = job_op.get(s["job"])
        if k is None and s["submit_ms"]:
            k = owner(windows, s["submit_ms"])
        if k is not None:
            stage_op[(s["id"], s["attempt"])] = k
    return job_op, stage_op


def summarize(workload, raw, verdicts, cfg, trace, cores, untraced_wall=None):
    """``untraced_wall``: wall_s of an untraced run on the same inputs,
    the base of the tracing overhead."""
    ops = [dict(o, ok=v[0], problem=v[1]) for o, v in zip(raw["ops"], verdicts)]
    passes = raw["passes"]
    col = raw["collector"]
    job_op, stage_op = _attribute(raw, ops)
    jobs = [j for j in col["jobs"] if j["id"] in job_op]
    stages = [s for s in col["stages"] if (s["id"], s["attempt"]) in stage_op]
    dur = lambda o: (o["end_ms"] - o["start_ms"]) / 1000.0
    pass_wall = {p["pass"]: sum(dur(o) for o in ops if o["pass"] == p["pass"]) for p in passes}
    n_pass = len(passes)

    # items: trips loaded per month, or queries completed
    per_item = cfg["trips"] if workload == "elt_monthly" else 1
    t_value, t_pct, t_beyond, t_n = tail([dur(o) for o in ops])
    failed = sum(1 for o in ops if not o["ok"])
    e2e = {
        "setup_s": median(raw["setup_s"]),
        "wall_s": median(list(pass_wall.values())),
        "items_per_s": per_item * sum(1 for o in ops if o["ok"]) / sum(pass_wall.values()),
        "op_p50_s": median([dur(o) for o in ops]),
        "op_tail_s": t_value,
        "cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9 / n_pass,
        "shuffle_mb": sum(s["shuffle_write_bytes"] for s in stages) / MB / n_pass,
        "ok_frac": 1.0 - fail_frac(ops),
    }
    detail = {
        "workload": workload, "cores": cores, "trace": trace, "passes": n_pass,
        "machine": {"calib_scalar_pre_s": raw["calib_scalar_pre_s"],
                    "calib_scalar_post_s": raw["calib_scalar_post_s"]},
        "setup_runs_s": raw["setup_s"],
        "phases_ms": raw["phases_ms"],
        "op_tail": {"percentile": t_pct, "samples_beyond": t_beyond, "samples": t_n},
        "end_to_end": e2e,
        "problems": sorted({f"{o['name']}: {o['problem']}" for o in ops if not o["ok"]}),
        "ops": [{"pass": o["pass"], "name": o["name"], "s": round(dur(o), 4), "ok": o["ok"]}
                for o in ops],
    }
    if trace:
        layer, spans, selfs = _layers(workload, raw, ops, jobs, stages, job_op, stage_op,
                                      pass_wall, cores, cfg, untraced_wall)
        detail["untraced_wall_s"] = untraced_wall
        detail["per_layer"] = layer
        detail["self_s_per_pass"] = selfs
        detail["spans"] = spans
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return result, detail


def _layers(workload, raw, ops, jobs, stages, job_op, stage_op, pass_wall, cores, cfg,
            untraced_wall):
    col = raw["collector"]
    calls = raw["calls"]
    n = len(pass_wall)
    dur = lambda x: (x["end_ms"] - x["start_ms"]) / 1000.0
    in_ops = lambda t: owner([(o["start_ms"], o["end_ms"]) for o in ops], t) is not None
    L = {k: 0.0 for k, _ in LAYER}

    def calls_named(name):
        return [c for c in calls if c["name"] == name]

    def jobs_in(cs):
        ws = sorted((c["start_ms"], c["end_ms"]) for c in cs)
        return [j for j in jobs if owner(ws, j["start_ms"]) is not None]

    # etl
    ingest, write_all = calls_named("Ingest.stageAll"), calls_named("StarSchemaWriter.writeAll")
    L["etl.ingest_s"] = sum(dur(c) for c in ingest) / n
    if ingest:
        eljobs = {j["id"] for j in jobs_in(ingest + write_all)}
        read = sum(s["input_bytes"] for s in stages if s["job"] in eljobs)
        staged = sum(os.path.getsize(os.path.join(b, f))
                     for m in cfg["months"] for b, _, fs in os.walk(os.path.join(raw["data"], m))
                     for f in fs if not f.startswith("."))
        L["etl.scan_amplification"] = read / (staged * n) if staged else 0.0
    writes = [w for w in col["writes"] if in_ops(w["end_ms"])]
    for w in writes:
        table = next((t for t in ETL_TABLES if f"/{t}.parquet" in w["path"]), None)
        key = ETL_TABLES.get(table, "etl.other_dims_s")
        if workload == "elt_monthly":
            L[key] += w["dur_ms"] / 1000.0 / n
        L["spark.write_s"] += w["dur_ms"] / 1000.0 / n
    if write_all:
        ws = [(c["start_ms"], c["end_ms"]) for c in write_all]
        sql = [iv for w in ws for iv in clip([(x["start_ms"], x["end_ms"])
                                              for x in col["sql_executions"]], *w)]
        L["etl.sql_s"] = union_length(sql) / 1000.0 / n
        tables = sum(L[k] for k in ("etl.fact_s", "etl.time_dim_s", "etl.user_dim_s",
                                    "etl.other_dims_s"))
        L["etl.table_share"] = tables / L["etl.sql_s"] if L["etl.sql_s"] else 0.0
        L["etl.files_written"] = sum(raw.get("lake_files", [])) / n
    quality = [c for c in calls if c["layer"] == "quality"]
    L["quality.gate_s"] = sum(dur(c) for c in quality) / n
    L["quality.jobs"] = len(jobs_in(quality)) / n

    # queries and driver time
    first_job = {}
    for j in jobs:
        k = job_op[j["id"]]
        first_job[k] = min(first_job.get(k, j["start_ms"]), j["start_ms"])
    for o in ops:
        if o["group"] in ("relational", "analytics"):
            L[f"queries.{o['group']}_s"] += dur(o) / n
            L["queries.plan_s"] += (first_job.get(o["index"], o["end_ms"]) - o["start_ms"]) / 1000.0 / n
        if o["group"] in CORPUS_GROUPS:
            L[f"ops.{o['group']}_s"] += dur(o) / n
        busy = union_length(clip([(j["start_ms"], j["end_ms"]) for j in jobs
                                  if job_op[j["id"]] == o["index"]], o["start_ms"], o["end_ms"]))
        L["spark.driver_s"] += (dur(o) - busy / 1000.0) / n
    for s in stages:
        g = ops[stage_op[(s["id"], s["attempt"])]]["group"]
        if g in CORPUS_GROUPS:
            L[f"ops.{g}_cpu_s"] += s["cpu_ns"] / 1e9 / n

    # memos: counted over the whole run from the engine's own lines
    memo = raw["memo"]
    all_passes = n
    L["memos.hits"] = memo.get("hit", 0) / all_passes
    L["memos.misses"] = memo.get("miss", 0) / all_passes
    L["memos.evictions"] = memo.get("evict", 0) / all_passes
    looked = memo.get("hit", 0) + memo.get("miss", 0)
    L["memos.hit_ratio"] = memo.get("hit", 0) / looked if looked else 0.0

    # stages
    total = lambda key: sum(s[key] for s in stages)
    L["spark.shuffle_fetch_wait_s"] = total("fetch_wait_ms") / 1000.0 / n
    L["spark.spill_mb"] = total("spill_bytes") / MB / n
    L["spark.tasks"] = total("tasks") / n
    L["spark.stages"] = len(stages) / n
    L["spark.narrow_stage_frac"] = (sum(1 for s in stages if s["tasks"] < cores) / len(stages)
                                    if stages else 0.0)
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["traced_tasks"] >= 2 and s["task_median_ms"] > 0]
    L["spark.task_skew"] = max(skews) if skews else 1.0
    wall_traced = sum(pass_wall.values())
    L["spark.core_util"] = total("run_ms") / 1000.0 / (wall_traced * cores) if wall_traced else 0.0
    L["spark.scan_mb"] = total("input_bytes") / MB / n
    L["spark.gc_s"] = total("gc_ms") / 1000.0 / n
    L["spark.written_mb"] = total("output_bytes") / MB / n
    L["store.write_mb"] = sum(s["output_bytes"] for s in stages
                              if ops[stage_op[(s["id"], s["attempt"])]]["group"] == "streaming") / MB / n
    L["jvm.heap_peak_mb"] = raw["heap_peak_bytes"] / MB
    L["spark.cached_peak_mb"] = col["cached_peak_bytes"] / MB
    L["bench.fail_frac"] = fail_frac(ops)
    cols = {k: total(f"col_{k}_ms") for k in ("scan", "compute", "exchange", "write")}
    for k, v in cols.items():
        L[f"spark.layer_{k}_s"] = v / 1000.0 / n
    L["spark.scan_s"] = L["spark.layer_scan_s"]
    run_ms = total("run_ms")
    L["spark.layer_sum_err_pct"] = abs(sum(cols.values()) - run_ms) / run_ms * 100 if run_ms else 0.0

    # streaming
    prog = [p for p in col["stream_progress"] if in_ops(p["ts_ms"])]
    L["streaming.batches"] = len(prog) / n
    L["streaming.batch_p50_ms"] = median([p["trigger_ms"] for p in prog])
    L["streaming.add_batch_ms"] = median([p["add_batch_ms"] for p in prog])
    L["streaming.commit_ms"] = median([p["commit_ms"] for p in prog])
    first_batch = {}
    for p in prog:
        first_batch[p["id"]] = min(first_batch.get(p["id"], p["ts_ms"]), p["ts_ms"])
    starts = {s["id"]: s["ts_ms"] for s in col["stream_starts"]}
    L["streaming.startup_s"] = sum(t - starts[q] for q, t in first_batch.items()
                                   if q in starts) / 1000.0 / n

    # spans: op -> call -> job -> stage, self time per layer
    spans = []
    for o in ops:
        spans.append({"id": f"op{o['index']}", "parent": None, "layer": "op",
                      "name": o["name"], "start": o["start_ms"], "end": o["end_ms"]})
    call_windows = {}
    for i, c in enumerate(calls):
        sid = f"call{i}"
        spans.append({"id": sid, "parent": f"op{c['op']}", "layer": c["layer"],
                      "name": c["name"], "start": c["start_ms"], "end": c["end_ms"]})
        call_windows.setdefault(c["op"], []).append((c["start_ms"], c["end_ms"], sid))
    for j in jobs:
        k = job_op[j["id"]]
        ws = sorted(call_windows.get(k, []))
        inner = owner([(a, b) for a, b, _ in ws], j["start_ms"])
        parent = ws[inner][2] if inner is not None else f"op{k}"
        spans.append({"id": f"job{j['id']}", "parent": parent, "layer": "job",
                      "name": f"job {j['id']}", "start": j["start_ms"], "end": j["end_ms"]})
    job_ids = {j["id"] for j in jobs}
    for s in stages:
        if s["job"] in job_ids and s["submit_ms"]:
            spans.append({"id": f"stage{s['id']}.{s['attempt']}", "parent": f"job{s['job']}",
                          "layer": "stage", "name": s["name"][:80],
                          "start": s["submit_ms"], "end": s["complete_ms"]})
    selfs = self_times(spans)
    by_layer = {}
    for sp in spans:
        sp["self"] = selfs[sp["id"]]
        by_layer[sp["layer"]] = by_layer.get(sp["layer"], 0.0) + sp["self"] / 1000.0 / n
    for layer in ("op", "etl", "quality", "queries", "spark", "job", "stage"):
        L[f"trace.self_{layer}_s"] = by_layer.get(layer, 0.0)
    L["trace.spans"] = len(spans) / n
    if untraced_wall:
        L["trace.overhead_pct"] = (median(list(pass_wall.values())) / untraced_wall - 1) * 100
    return L, spans, by_layer


def describe(detail):
    """Human-readable summary lines for stderr."""
    e = detail["end_to_end"]
    m = detail["machine"]
    t = detail["op_tail"]
    yield (f"{detail['workload']}: {detail['passes']} passes on {detail['cores']} cores; "
           + ", ".join(f"{k}={v:.4g}" for k, v in e.items()))
    yield (f"op_tail_s is the p{t['percentile']:.1f} of {t['samples']} ops "
           f"({t['samples_beyond']} beyond it); calib scalar "
           f"{m['calib_scalar_pre_s']:.3f}s before, {m['calib_scalar_post_s']:.3f}s after")
    if "per_layer" in detail:
        yield "per layer: " + ", ".join(f"{k}={v:.4g}" for k, v in detail["per_layer"].items())
        err = detail["per_layer"]["spark.layer_sum_err_pct"]
        yield (f"layer columns vs stage totals: {err:.2f}% apart "
               f"({'ok' if err <= 3 else 'MISMATCH'})")
    ph = detail["phases_ms"]
    yield ("jvm phases (s): " + ", ".join(f"{k}={(v - ph['launch']) / 1000:.1f}"
                                          for k, v in ph.items() if k != "launch"))
    for p in detail["problems"]:
        yield f"FAILED {p}"
