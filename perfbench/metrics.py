"""Metrics from the JVM's raw record: end-to-end figures of an untraced
window, and per-layer figures, spans and self times of a traced one.

Every per-layer figure is computed per pass (one pass = every op of the
workload once) and reported as the median over the traced passes. A count
that differs between passes is listed as not exactly repeated.
"""
import math
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# module.<File> buckets: the engine files the kept workloads reach (see
# the Recorder's Attribution); a job of any other file counts as "other"
MODULES = ["InvertedIndex", "Relational", "TimeWindows", "Advanced",
           "CurationRun", "Dedup", "Pipeline", "PartitionedParquet",
           "ModelStore", "Quantizers", "Similarity", "sink", "rdd", "other"]

# the ops of every workload, for the op.<name>_s metrics
OPS = ["q01_inverted_index", "q02_word_count", "q04_hash_agg",
       "q05_join_agg", "q06_multiway_join", "q09_window_rank", "q11_set_ops",
       "q15_sessionization", "q37_tpch_q3", "reference_index",
       "q56_dup_clusters", "q56b_dup_clusters_lsh", "q139_bpe_merges",
       "q142_bpe_merges_batched", "q135b_token_budget_bpe", "curation_run"]

MB = 1024.0 * 1024.0

# name -> unit, in report order; counts are the metrics whose unit is count
LAYER_UNITS = dict(
    [("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
     ("plan.planning_s", "s"), ("plan.actions", "count"),
     ("plan.aqe_updates", "count"),
     ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
     ("codegen.source_kb", "KiB"),
     ("sched.jobs", "count"), ("sched.stages", "count"),
     ("sched.tasks", "count"), ("sched.job_s", "s"), ("sched.gap_s", "s"),
     ("sched.task_retries", "count"),
     ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.core_util", "ratio"),
     ("shuffle.read_mb", "MiB"), ("shuffle.write_mb", "MiB"),
     ("shuffle.fetch_wait_s", "s"),
     ("sources.input_rows", "count"), ("sources.input_mb", "MiB"),
     ("sources.output_rows", "count"), ("sources.output_mb", "MiB"),
     ("ckpt.blocks", "count"), ("ckpt.mb", "MiB"),
     ("mem.spill_mb", "MiB"), ("mem.peak_exec_mb", "MiB"),
     ("self.op_s", "s"), ("self.exec_s", "s"), ("self.job_s", "s"),
     ("self.stage_s", "s")]
    + [(f"module.{m}.{k}", u) for m in MODULES
       for k, u in (("job_s", "s"), ("jobs", "count"))]
    + [(f"op.{o}_s", "s") for o in OPS]
    + [("trace.overhead_s", "s")])

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "op_geomean_s": "s",
                    "rows_per_s": "1/s", "peak_rss_mb": "MiB"}


def union_us(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered_us(start, end, intervals):
    """Part of [start, end) covered by the union of the intervals."""
    return union_us([(max(s, start), min(e, end)) for s, e in intervals])


def self_times(spans):
    """span id -> its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(
                (s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]) - covered_us(
        s["start_us"], s["end_us"], kids.get(s["id"], [])) for s in spans}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(raw, input_rows):
    """setup_s, run_s, op_geomean_s, rows_per_s and peak_rss_mb of the
    untraced window: run_s is the median wall of a pass, op_geomean_s the
    geometric mean over ops of each op's median wall."""
    passes = raw["untraced"]
    run_s = median([sum(o["wall_s"] for o in p) for p in passes])
    per_op = {}
    for p in passes:
        for o in p:
            per_op.setdefault(o["name"], []).append(o["wall_s"])
    return {
        "setup_s": raw["setup_s"],
        "run_s": run_s,
        "op_geomean_s": geomean([median(v) for v in per_op.values()]),
        "rows_per_s": input_rows / run_s,
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def spans_of(raw, run_id):
    """The traced window as spans (op -> SQL execution -> job -> stage),
    each with its pass, and the op each job and execution belongs to.

    A job names its op through the local property the harness sets; a job
    started on another thread, and every execution, is matched by time."""
    ops = [o for p in raw["traced"] for o in p]
    ev = raw["trace"]

    def op_at(t_us):
        for o in ops:
            if o["start_us"] - 1000 <= t_us <= o["end_us"] + 1000:
                return o
        return None

    spans, op_of_job, op_of_exec = [], {}, {}
    for o in ops:
        spans.append({"id": f"op:{o['pass']}:{o['index']}", "parent": None,
                      "kind": "op", "name": o["name"], "pass": o["pass"],
                      "start_us": o["start_us"], "end_us": o["end_us"]})
    by_tag = {f"{o['pass']}:{o['index']}": o for o in ops}
    for x in ev.get("execs", []):
        o = op_at(x["start_ms"] * 1000)
        if o is None or x["end_ms"] < 0:
            continue
        op_of_exec[x["id"]] = o
        spans.append({"id": f"x:{x['id']}",
                      "parent": f"op:{o['pass']}:{o['index']}",
                      "kind": "exec", "name": x["module"], "pass": o["pass"],
                      "start_us": x["start_ms"] * 1000,
                      "end_us": x["end_ms"] * 1000})
    for j in ev.get("jobs", []):
        o = by_tag.get(j["op"]) or op_at(j["start_ms"] * 1000)
        if o is None or j["end_ms"] < 0:
            continue
        op_of_job[j["id"]] = o
        parent = (f"x:{j['exec']}" if j["exec"] in op_of_exec
                  else f"op:{o['pass']}:{o['index']}")
        spans.append({"id": f"j:{j['id']}", "parent": parent, "kind": "job",
                      "name": j["module"], "pass": o["pass"],
                      "start_us": j["start_ms"] * 1000,
                      "end_us": j["end_ms"] * 1000})
    for s in ev.get("stages", []):
        o = op_of_job.get(s["job"])
        if o is None or s["start_ms"] < 0 or s["end_ms"] < 0:
            continue
        spans.append({"id": f"s:{s['id']}.{s['attempt']}",
                      "parent": f"j:{s['job']}", "kind": "stage",
                      "name": f"stage {s['id']}", "pass": o["pass"],
                      "start_us": s["start_ms"] * 1000,
                      "end_us": s["end_ms"] * 1000})
    selfs = self_times(spans)
    for s in spans:
        s["run_id"] = run_id
        s["self_us"] = selfs[s["id"]]
    return spans, op_of_job, op_of_exec


def pass_layers(raw, spans, op_of_job, op_of_exec, pass_no, cores):
    """Per-layer figures of one traced pass."""
    ev = raw["trace"]
    ops = [o for p in raw["traced"] for o in p if o["pass"] == pass_no]
    wall = sum(o["wall_s"] for o in ops)
    m = {k: 0.0 for k in LAYER_UNITS if k != "trace.overhead_s"}
    for o in ops:
        m[f"op.{o['name']}_s"] = o["wall_s"]
        m["codegen.compiles"] += o["compiles"]
        m["codegen.compile_s"] += o["compile_ns"] / 1e9
        m["codegen.source_kb"] += o["source_bytes"] / 1024.0
    execs = [x for x in ev.get("execs", [])
             if x["id"] in op_of_exec and op_of_exec[x["id"]]["pass"] == pass_no]
    for x in execs:
        m["plan.analysis_s"] += x["analysis_ms"] / 1000.0
        m["plan.optimization_s"] += x["optimization_ms"] / 1000.0
        m["plan.planning_s"] += x["planning_ms"] / 1000.0
        m["plan.aqe_updates"] += x["aqe_updates"]
        if x["root"] == x["id"]:
            m["plan.actions"] += 1
    jobs = [j for j in ev.get("jobs", [])
            if j["id"] in op_of_job and op_of_job[j["id"]]["pass"] == pass_no]
    job_ids = {j["id"] for j in jobs}
    for j in jobs:
        dur = (j["end_ms"] - j["start_ms"]) / 1000.0
        mod = j["module"] if j["module"] in MODULES else "other"
        m["sched.jobs"] += 1
        m[f"module.{mod}.job_s"] += dur
        m[f"module.{mod}.jobs"] += 1
        m["ckpt.blocks"] += j["blocks"]
        m["ckpt.mb"] += j["block_bytes"] / MB
    for o in ops:
        iv = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs
              if op_of_job[j["id"]] is o]
        busy = covered_us(o["start_us"], o["end_us"], iv) / 1e6
        m["sched.job_s"] += busy
        m["sched.gap_s"] += max(o["wall_s"] - busy, 0.0)
    for s in ev.get("stages", []):
        if s["job"] not in job_ids:
            continue
        m["sched.stages"] += 1
        m["sched.tasks"] += s["tasks"]
        m["sched.task_retries"] += s["retries"]
        m["exec.task_s"] += s["run_ms"] / 1000.0
        m["exec.cpu_s"] += s["cpu_ns"] / 1e9
        m["exec.gc_s"] += s["gc_ms"] / 1000.0
        m["shuffle.read_mb"] += s["shuffle_read_bytes"] / MB
        m["shuffle.write_mb"] += s["shuffle_write_bytes"] / MB
        m["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1000.0
        m["sources.input_rows"] += s["input_records"]
        m["sources.input_mb"] += s["input_bytes"] / MB
        m["sources.output_rows"] += s["output_records"]
        m["sources.output_mb"] += s["output_bytes"] / MB
        m["mem.spill_mb"] += s["disk_spill_bytes"] / MB
        m["mem.peak_exec_mb"] = max(m["mem.peak_exec_mb"],
                                    s["peak_exec_bytes"] / MB)
    m["exec.core_util"] = m["exec.task_s"] / (wall * cores) if wall else 0.0
    for s in spans:
        if s["pass"] == pass_no:
            m[f"self.{s['kind']}_s"] += s["self_us"] / 1e6
    return m


def per_layer(raw, run_id):
    """(metrics, spans, per-pass figures, counts not exactly repeated)."""
    spans, op_of_job, op_of_exec = spans_of(raw, run_id)
    passes = [p[0]["pass"] for p in raw["traced"]]
    per_pass = [pass_layers(raw, spans, op_of_job, op_of_exec, p,
                            raw["cores"]) for p in passes]
    metrics = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    untraced = median([sum(o["wall_s"] for o in p) for p in raw["untraced"]])
    traced = median([sum(o["wall_s"] for o in p) for p in raw["traced"]])
    metrics["trace.overhead_s"] = traced - untraced
    unsteady = sorted(k for k, u in LAYER_UNITS.items() if u == "count"
                      and k in per_pass[0]
                      and len({pp[k] for pp in per_pass}) > 1)
    return metrics, spans, per_pass, unsteady
