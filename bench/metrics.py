"""Metrics of a benchmark run, computed from the harness's raw record.

End-to-end metrics are defined for every workload; a "step" is the timed
`Pipeline.run` night on the nightly workloads and one query of the timed
pass (built, then forced by writing its result) on the query mix, and a
"pass" is the timed night or the timed pass over the mix; each follows an
untimed warm-up in the same JVM, which `setup_s` counts. On a nightly
workload the run has one step, so `step_s_geomean`, `pass_s` and
`input_rows_per_s` are one measurement seen three ways.

Per-layer metrics come from the traced run's listener records. Times that
only some workloads have are reported as shares of the timed wall time, so
every metric is defined (and never a constant time) on every workload.
"""
import math
import re
import statistics

PHASES = ("staging", "dims", "meta", "facts", "reports")
DIMS = ("dim_clients", "dim_accounts", "dim_cards", "dim_terminals")
LAYERS = ("etl.Pipeline", "etl.Warehouse", "etl.Scd1", "etl.Reports", "etl.other",
          "operators.BloomJoin", "operators.other", "sources", "queries", "streaming", "other")
GROUPS = ("Core", "Tpch", "Ref", "Misc", "Stats", "Text", "Similarity")
QUERIES = ("q_rep_fraud_corrected", "q_scd1_merge", "q_tpch_q1", "q_tpch_q3", "q_corr_matrix",
           "q_stream_window", "text_curate", "ann_ivfpq")


def master_cores(master):
    m = re.fullmatch(r"local\[(\d+)\]", master or "")
    return int(m.group(1)) if m else None


def _median_setup(raw):
    res = raw["result"]
    if "gen_reps_s" in res:
        # nightly: restoring the initial-load warehouse, generating and
        # writing the nights' inputs (the initial load itself runs once
        # per build), and the warm-up night
        return (raw["session_s"] + raw["restore_s"] + statistics.median(res["gen_reps_s"])
                + res["write_inputs_s"] + res["warmup_s"])
    # the mix: the warm-up pass is set-up too
    return raw["session_s"] + statistics.median(raw["gen"]["times"]) + res["warmup_s"]


def end_to_end(workload, raw):
    res = raw["result"]
    secs = [s["s"] for s in res["steps"]]
    if workload == "query_mix":
        rows, in_bytes = raw["gen"]["rows"], raw["gen"]["bytes"]
        cum_bytes = in_bytes
    else:
        rows, in_bytes, cum_bytes = res["input_rows"], res["input_bytes"], res["cum_input_bytes"]
    return {
        "step_s_geomean": (math.exp(sum(math.log(s) for s in secs) / len(secs)), "s"),
        "pass_s": (sum(secs), "s"),
        "input_rows_per_s": (rows / sum(secs), "rows/s"),
        "write_amp": (res["new_bytes"] / in_bytes, "ratio"),
        "space_amp": (res["end_bytes"] / cum_bytes, "ratio"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "setup_s": (_median_setup(raw), "s"),
    }


def _layer(name):
    if name in LAYERS:
        return name
    for prefix in ("etl", "operators"):
        if name.startswith(prefix + "."):
            return prefix + ".other"
    for prefix in ("sources", "queries", "streaming"):
        if name.startswith(prefix + "."):
            return prefix
    return "other"


def _phase(table):
    if table is None:
        return None
    if table.startswith("stg_"):
        return "staging"
    if table.startswith("dim_"):
        return "dims"
    if table == "meta":
        return "meta"
    if table.startswith("fact_"):
        return "facts"
    if table == "rep_fraud":
        return "reports"
    return None


def _union_len(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_layer(workload, raw):
    res, tr = raw["result"], raw["trace"]
    steps = res["steps"]
    cores = int(raw["cores"])
    wall_ms = sum(s["end"] - s["start"] for s in steps) or 1
    jobs = [j for j in tr["jobs"] if j["end"] >= 0]

    def in_step(t, s):
        return s["start"] <= t <= s["end"]

    step_jobs = [[j for j in jobs if in_step(j["start"], s)] for s in steps]
    timed = [j for js in step_jobs for j in js]
    task_ms = sum(j["task_ms"] for j in timed) or 1
    busy = sum(_union_len([(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in js])
               for s, js in zip(steps, step_jobs))
    m = {
        "spark.jobs": (len(timed), "count"),
        "spark.stages": (sum(j["stages"] for j in timed), "count"),
        "spark.tasks": (sum(j["tasks"] for j in timed), "count"),
        "spark.task_s": (sum(j["task_ms"] for j in timed) / 1e3, "s"),
        "spark.gc_s": (sum(j["gc_ms"] for j in timed) / 1e3, "s"),
        "spark.shuffle_write_bytes": (sum(j["shuffle_write"] for j in timed), "bytes"),
        "spark.input_bytes": (sum(j["input"] for j in timed), "bytes"),
        "spark.output_bytes": (sum(j["output"] for j in timed), "bytes"),
        "spark.spill_bytes": (sum(j["spill"] for j in timed), "bytes"),
        "spark.driver_gap_s": ((wall_ms - busy) / 1e3, "s"),
        "spark.core_util": (sum(j["task_ms"] for j in timed) / (wall_ms * cores), "ratio"),
        "trace.pass_s": (sum(s["s"] for s in steps), "s"),
        "trace.callback_s": (tr["callback_ms"] / 1e3, "s"),
        "env.calib_cpu_s": (raw["calib_cpu_s"], "s"),
        "env.calib_io_s": (raw["calib_io_s"], "s"),
    }
    for layer in LAYERS:
        m[f"layer.{layer}.jobs"] = (sum(1 for j in timed if _layer(j["layer"]) == layer), "count")

    def job_share(pred):
        return sum(j["end"] - j["start"] for j in timed if pred(j)) / wall_ms

    m["etl.Scd1.detect_share"] = (job_share(lambda j: j["layer"] == "etl.Scd1"), "ratio")
    m["operators.BloomJoin.build_share"] = (
        job_share(lambda j: j["layer"] == "operators.BloomJoin"), "ratio")

    # ---- warehouse phases: each write command is attributed to a phase
    # by the table it writes; a phase's window runs from the end of the
    # previous phase's last write to the end of its own last write, and
    # the commit tail from the night's last job to the return of run
    write_ms = dict.fromkeys(PHASES, 0)
    phase_jobs = dict.fromkeys(PHASES, 0)
    phase_task = dict.fromkeys(PHASES, 0)
    tail_ms = 0
    writes = [(w["end"] - w["ms"], w["end"], _phase(w["table"])) for w in tr["writes"]]
    if workload != "query_mix":
        for s, js in zip(steps, step_jobs):
            mine = [w for w in writes if w[2] and in_step(w[1], s)]
            t = s["start"]
            for ph in PHASES:
                ivs = [(b, e) for b, e, p in mine if p == ph]
                if not ivs:
                    continue
                write_ms[ph] += _union_len(ivs)
                end = max(e for _, e in ivs)
                for j in js:
                    if t <= j["start"] < end:
                        phase_jobs[ph] += 1
                        phase_task[ph] += j["task_ms"]
                t = end
            last_job = max((j["end"] for j in js), default=s["start"])
            tail_ms += max(0, s["end"] - last_job)
    for ph in PHASES:
        m[f"etl.Warehouse.write_share.{ph}"] = (write_ms[ph] / wall_ms, "ratio")
        m[f"etl.Warehouse.jobs.{ph}"] = (phase_jobs[ph], "count")
        m[f"etl.Warehouse.task_share.{ph}"] = (phase_task[ph] / task_ms, "ratio")
    m["etl.Warehouse.commit_tail_share"] = (tail_ms / wall_ms, "ratio")

    night = res.get("night") or {}
    for key, unit in (("bytes_written", "bytes"), ("files_written", "count"),
                      ("files_linked", "count"), ("catalog_versions", "count")):
        m[f"etl.Warehouse.{key}"] = (night.get(key, 0), unit)
    for d in DIMS:
        for key in ("buckets_touched_share", "changed_key_share"):
            m[f"etl.Scd1.{key}.{d}"] = (night.get(key, {}).get(d, 0.0), "ratio")
    appended = night.get("rep_rows_appended", 0)
    m["etl.Reports.rows_appended"] = (appended, "count")
    m["etl.Reports.new_row_share"] = (
        night["rep_rows_tonight"] / appended if appended else 0.0, "ratio")
    m["sources.Xlsx.parse_share"] = (night.get("xlsx_parse_s", 0.0) * 1e3 / wall_ms, "ratio")

    # ---- streaming: jobs carrying a streaming query id, batch wall, and
    # query lifetime outside its batches
    sq = [j for j in timed if j["stream"]]
    starts = [x for x in tr["stream_starts"] if any(in_step(x["t"], s) for s in steps)]
    batches = [b for b in tr["batches"] if any(in_step(b["t"], s) for s in steps)]
    ends = {x["q"]: x["t"] for x in tr["stream_ends"]}
    life_ms = sum(ends.get(x["q"], x["t"]) - x["t"] for x in starts)
    batch_ms = sum(b["ms"] for b in batches)
    m["streaming.starts"] = (len(starts), "count")
    m["streaming.batches"] = (len(batches), "count")
    m["streaming.jobs"] = (len(sq), "count")
    m["streaming.batch_share"] = (batch_ms / wall_ms, "ratio")
    m["streaming.lifecycle_share"] = (max(0, life_ms - batch_ms) / wall_ms, "ratio")

    # ---- queries: per group and per query, as shares of the pass wall
    for g in GROUPS:
        gs = [(s, js) for s, js in zip(steps, step_jobs) if s["group"] == g]
        g_ms = sum(s["end"] - s["start"] for s, _ in gs)
        g_busy = sum(_union_len([(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in js])
                     for s, js in gs)
        m[f"queries.{g}.share"] = (g_ms / wall_ms, "ratio")
        m[f"queries.{g}.jobs"] = (sum(len(js) for _, js in gs), "count")
        m[f"queries.{g}.task_share"] = (sum(j["task_ms"] for _, js in gs for j in js) / task_ms, "ratio")
        m[f"queries.{g}.gap_share"] = ((g_ms - g_busy) / wall_ms, "ratio")
    for q in QUERIES:
        q_ms = sum(s["end"] - s["start"] for s in steps if s["label"] == q)
        m[f"queries.{q}.share"] = (q_ms / wall_ms, "ratio")
    q_steps = [s for s in steps if "build_s" in s]
    m["queries.build_share"] = (
        sum(s["build_s"] for s in q_steps) / sum(s["s"] for s in q_steps) if q_steps else 0.0, "ratio")
    return m
