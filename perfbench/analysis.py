"""Arithmetic of the benchmark's metrics.

Pure functions over the raw record the JVM side writes: percentiles,
the union of job intervals and the driver gap, call-site -> module
attribution of Spark jobs (including the two legs of `graft.ext.Par.both`),
and the per-layer totals of a traced operation.
"""
import math
import statistics

MB = 1024.0 * 1024.0

# Per-module job metrics are reported for these modules; every other
# attribution (the harness itself, graft.Tables, Spark-only call sites)
# is summed under "other".
MODULES = ("ext.Dedup", "ext.TextStats", "ext.Curation", "ext.TrainSet",
           "ext.Refresh", "ext.CorpusDiff", "ext.Hints", "ext.Artifacts",
           "queries")

# Par.both(a)(b) evaluates `a` on the calling thread (its frames sit above
# graft.ext.Par$.both) and `b` in a scala.concurrent.Future on a pooled
# thread. x114 passes the incremental refresh first and the rebuild second.
PAR_FRAME = "graft.ext.Par$.both("
FUTURE_FRAME = "scala.concurrent.Future$"
LEGS = ("incremental", "rebuild")


def median(values):
    return statistics.median(values)


def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile; refuses one with fewer than
    `min_beyond` samples above it, so a p90 needs at least 100 samples."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        raise ValueError(f"p{p} of {n} samples has only {n - rank} beyond it")
    return sorted(values)[rank - 1]


def union_length(intervals, window=None):
    """Total length covered by (start, end) intervals, clipped to `window`."""
    spans = []
    for s, e in intervals:
        if window is not None:
            s, e = max(s, window[0]), min(e, window[1])
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(window, intervals):
    """Window length minus the union of the job intervals inside it: the
    time no Spark job was running."""
    return (window[1] - window[0]) - union_length(intervals, window)


def frames(stack):
    return [f.strip() for f in (stack or "").splitlines() if f.strip()]


def module_of_frame(frame):
    """`graft.ext.Dedup$.x(Dedup.scala:1)` -> `ext.Dedup`,
    `graft.queries.Declared$.$anonfun$all$1(...)` -> `queries`,
    `graft.Tables$.load(...)` -> `Tables`; None for non-program frames."""
    cls = frame.split("(", 1)[0].rsplit(".", 1)[0]
    parts = cls.split("$", 1)[0].split(".")
    if parts[0] != "graft" or len(parts) < 2:
        return None
    if len(parts) == 2:
        return parts[1]
    if parts[1] == "ext":
        return "ext." + parts[2]
    return parts[1]


def first_module(stack):
    for f in frames(stack):
        m = module_of_frame(f)
        if m:
            return m
    return None


def par_leg(stack):
    """Which argument of Par.both submitted a job with this call site."""
    fs = frames(stack)
    if not any(module_of_frame(f) for f in fs):
        return None
    if any(f.startswith(PAR_FRAME) for f in fs):
        return LEGS[0]
    if any(f.startswith(FUTURE_FRAME) for f in fs):
        return LEGS[1]
    return None


def job_call_site(job, executions):
    """The job's own call site when it holds a program frame, else that of
    its SQL execution or the execution's root (jobs AQE or a broadcast
    submits from a Spark thread carry only Spark frames)."""
    if first_module(job.get("stack")):
        return job["stack"]
    ex = executions.get(str(job.get("execution")))
    for _ in range(2):
        if ex is None:
            break
        if first_module(ex.get("stack")):
            return ex["stack"]
        ex = executions.get(str(ex.get("root")))
    return job.get("stack") or ""


def attribute(job, executions):
    site = job_call_site(job, executions)
    m = first_module(site)
    return (m if m in MODULES else "other"), par_leg(site)


def trace_layers(op, cores):
    """Spark-runtime, per-module and Par-leg metrics of one traced op."""
    tr = op["trace"]
    window = (op["start_ms"], op["end_ms"])
    wall_s = op["wall_s"]
    jobs = [j for j in tr["jobs"] if j.get("end_ms") is not None]
    job_task_ms = {}
    totals = dict(tasks=0, failed=0, task_ms=0, delay_ms=0, read=0, write=0, spill=0)
    ran = 0
    for st in tr["stages"]:
        if st["tasks"] > 0:
            ran += 1
        totals["tasks"] += st["tasks"]
        totals["failed"] += st["failed"]
        totals["task_ms"] += st["task_ms"]
        totals["delay_ms"] += st["delay_ms"]
        totals["read"] += st["read_bytes"]
        totals["write"] += st["write_bytes"]
        totals["spill"] += st["spill_bytes"]
        if st.get("job") is not None:
            job_task_ms[st["job"]] = job_task_ms.get(st["job"], 0) + st["task_ms"]
    task_s = totals["task_ms"] / 1e3
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": ran,
        "spark.tasks": totals["tasks"],
        "spark.task_s": task_s,
        "spark.scheduler_delay_s": totals["delay_ms"] / 1e3,
        "spark.failed_tasks": totals["failed"],
        "spark.shuffle_read_mb": totals["read"] / MB,
        "spark.shuffle_write_mb": totals["write"] / MB,
        "spark.spill_mb": totals["spill"] / MB,
        "spark.driver_gap_s": driver_gap(window, [(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3,
        "spark.core_busy_ratio": task_s / (wall_s * cores),
        "spark.codegen_compiles": op["codegens"],
        "jvm.jit_s": op["jit_s"],
        "jvm.gc_s": op["gc_s"],
    }
    by_module = {m: [] for m in MODULES + ("other",)}
    by_leg = {leg: [] for leg in LEGS}
    for j in jobs:
        module, leg = attribute(j, tr["executions"])
        by_module[module].append(j)
        if leg:
            by_leg[leg].append(j)
    for m, js in by_module.items():
        out[f"{m}.jobs"] = len(js)
        out[f"{m}.task_s"] = sum(job_task_ms.get(j["id"], 0) for j in js) / 1e3
        out[f"{m}.wall_s"] = union_length([(j["start_ms"], j["end_ms"]) for j in js], window) / 1e3
    for leg, js in by_leg.items():
        out[f"ext.Par.{leg}_jobs"] = len(js)
        out[f"ext.Par.{leg}_s"] = union_length([(j["start_ms"], j["end_ms"]) for j in js], window) / 1e3
    return out


DATAGEN_LAYERS = (
    "gen.produce_s", "gen.records", "gen.wire_mb", "streaming.batches",
    "streaming.plan_ms", "streaming.add_batch_ms", "streaming.offset_commit_ms",
    "streaming.state_commit_ms", "streaming.truncate_ms", "streaming.state_rows",
    "streaming.state_mb", "health.update_ms", "health.check_ms")


def datagen_layers(output):
    """gen, streaming and health metrics of one traced datagen loop."""
    batches = output["batches"]
    progress = output.get("progress") or []

    def dur(p, key):
        return p["duration_ms"].get(key, 0)

    last_state = {}
    for p in progress:
        last_state[p["query"]] = p
    return {
        "gen.produce_s": output["produce_ms"] / 1e3,
        "gen.records": sum(b["records"] for b in batches),
        "gen.wire_mb": sum(b["wire_bytes"] for b in batches) / MB,
        "streaming.batches": len(progress),
        "streaming.plan_ms": median([dur(p, "queryPlanning") for p in progress]),
        "streaming.add_batch_ms": median([dur(p, "addBatch") for p in progress]),
        "streaming.offset_commit_ms": median([dur(p, "walCommit") + dur(p, "commitOffsets")
                                              for p in progress]),
        "streaming.state_commit_ms": median([p["state_commit_ms"] for p in progress]),
        "streaming.truncate_ms": median([b["truncate_ms"] for b in batches]),
        "streaming.state_rows": sum(p["state_rows"] for p in last_state.values()),
        "streaming.state_mb": sum(p["state_bytes"] for p in last_state.values()) / MB,
        "health.update_ms": median([b["update_ms"] for b in batches]),
        "health.check_ms": median([b["check_ms"] for b in batches]),
    }

