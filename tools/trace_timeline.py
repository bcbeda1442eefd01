#!/usr/bin/env python3
"""Per-operation totals and the job timeline of a perfbench trace.

A traced benchmark run (`perfbench/run.py --trace 1`) leaves its raw record
at `.bench_build/traces/<workload>-seed<n>.json`. This tool reads one and
prints:

  * per operation: traced or not, wall, cpu and JIT seconds, whole-stage
    codegen compiles and the number of Spark jobs;
  * for the last traced operation, one line per job in start order: start
    and end in ms from the operation's start, the SQL execution id, its
    stages (tasks, summed task ms, shuffle bytes read / written) and the
    first `graft.` frame of its call site (the job's own, else its SQL
    execution's, the attribution perfbench uses).

    python3 tools/trace_timeline.py .bench_build/traces/assembly_refresh-seed1.json

It only reads the trace; the call-site attribution is perfbench's own
(`perfbench/analysis.py`).
"""
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse
import json
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
import analysis  # noqa: E402


def op_rows(record):
    """One dict per operation: index, traced, wall/cpu/jit seconds,
    codegens and jobs."""
    return [{"op": i, "traced": bool(op.get("traced")),
             "wall_s": op.get("wall_s"), "cpu_s": op.get("cpu_s"),
             "jit_s": op.get("jit_s"), "codegens": op.get("codegens"),
             "jobs": len(op.get("jobs") or [])}
            for i, op in enumerate(record.get("ops", []))]


def first_graft_frame(stack):
    for f in analysis.frames(stack):
        if f.startswith("graft."):
            return f
    return None


def timeline(op):
    """The jobs of one traced operation in start order, each with its
    offsets from the operation's start, SQL execution, stages and first
    `graft.` frame."""
    tr = op["trace"]
    executions = tr.get("executions", {})
    stages = {}
    for s in tr.get("stages", []):
        stages.setdefault(s.get("job"), []).append(
            {"id": s["id"], "tasks": s["tasks"], "task_ms": s["task_ms"],
             "read_bytes": s["read_bytes"], "write_bytes": s["write_bytes"]})
    t0 = op["start_ms"]
    out = []
    for j in sorted(tr.get("jobs", []), key=lambda j: (j["start_ms"], j["id"])):
        end = j.get("end_ms")
        out.append({
            "job": j["id"],
            "start_ms": j["start_ms"] - t0,
            "end_ms": None if end is None else end - t0,
            "execution": j.get("execution"),
            "stages": stages.get(j["id"], []),
            "frame": first_graft_frame(analysis.job_call_site(j, executions)),
        })
    return out


def render(record):
    lines = ["op  traced  wall_s  cpu_s   jit_s   codegens  jobs"]
    for r in op_rows(record):
        lines.append("%-3d %-7s %-7s %-7s %-7s %-9s %d" % (
            r["op"], "yes" if r["traced"] else "no", r["wall_s"], r["cpu_s"],
            r["jit_s"], r["codegens"], r["jobs"]))
    traced = [(i, op) for i, op in enumerate(record.get("ops", []))
              if op.get("traced") and op.get("trace")]
    if not traced:
        lines.append("no traced operation")
        return "\n".join(lines)
    i, op = traced[-1]
    lines.append("")
    lines.append("op %d timeline (ms from the op's start)" % i)
    lines.append("job   start   end     exec  stages [id tasks task_ms read_B write_B]  frame")
    for j in timeline(op):
        st = " ".join("[%d %d %d %d %d]" % (s["id"], s["tasks"], s["task_ms"],
                                             s["read_bytes"], s["write_bytes"])
                      for s in j["stages"]) or "-"
        lines.append("%-5d %-7s %-7s %-5s %s  %s" % (
            j["job"], j["start_ms"], "-" if j["end_ms"] is None else j["end_ms"],
            "-" if j["execution"] is None else j["execution"], st,
            j["frame"] or "-"))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", help="a perfbench trace record (JSON)")
    a = ap.parse_args(argv)
    with open(a.trace) as f:
        print(render(json.load(f)))


if __name__ == "__main__":
    main()
