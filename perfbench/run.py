#!/usr/bin/env python3
"""The repository benchmark: one workload per run, on local[nproc].

    python3 perfbench/run.py --workload <datagen_loop|assembly_refresh>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness if needed (perfbench/build.py), derives
the seeded inputs, runs the workload in one Spark JVM (perfbench/src),
checks every measured operation's output (perfbench/checks.py) and
prints two JSON lines: a full report (seed, input hash, environment,
every metric with its unit and sample count, error rate) and, last, the
result object `{"correct", "attempted", "failed", "metrics"}` holding the
end-to-end metrics of BENCHMARK.json (`--trace 0`) or its per-layer
metrics (`--trace 1`). Exits 1 when a result check fails, 2 when the
program cannot be built.
"""
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse
import json
import shutil
import subprocess
import time
from pathlib import Path

import analysis
import build
import checks
import inputs

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DEADLINE_S = 170  # for the JVM; a run that first builds may take longer

# Work per run, fixed by --seconds (about that long on a 4-core box):
# datagen_loop publishes STEPS_PER_SECOND batches a second, at least
# MIN_STEPS (so that its p80 latency has ten samples beyond it), rounded up
# to a multiple of 4 (the generator's slices); assembly_refresh repeats the
# refresh once per REFRESH_SECONDS.
STEPS_PER_SECOND = 2
MIN_STEPS = 50
REFRESH_SECONDS = 6

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def git_commit():
    """HEAD of the checkout when it is a git work tree of its own."""
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return None
    return lines[1]


def run_jvm(jar, work, args, trace):
    t0 = time.monotonic()
    raw = work / "raw.json"
    cds, pending = build.cds_flags(jar)
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS],
           *cds, "-Xmx3g", "-Dspark.callstack.depth=200",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", build.classpath(jar), "perfbench.Main",
           "--trace", str(trace), "--work", str(work), "--out", str(raw)]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=DEADLINE_S - (time.monotonic() - t0))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not raw.exists():
        if pending is not None:
            pending.unlink(missing_ok=True)
        tail = (work / "jvm.log").read_text()[-3000:]
        raise RuntimeError(f"JVM exited with {code}:\n{tail}")
    build.keep_archive(pending)
    return json.loads(raw.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    try:
        jar, source_sha = build.build()
    except build.BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)

    work = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        report, result = measure(a, jar, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["source_sha256"] = source_sha
    report["git_commit"] = git_commit()
    report["units"] = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result["metrics"] = {m["name"]: {"value": report["metrics"][m["name"]], "unit": m["unit"]}
                         for m in spec["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def measure(a, jar, work):
    fixture_s, input_hash = 0.0, None
    args = {"workload": a.workload, "seed": a.seed, "fixture": work / "fixture"}
    if a.workload == "datagen_loop":
        steps = max(MIN_STEPS, a.seconds * STEPS_PER_SECOND)
        if a.trace:  # three loops (untraced, traced, untraced) share the run
            steps //= 2
        args.update(ops=1, batches=-(-steps // 4) * 4)
    else:
        t = time.monotonic()
        input_hash = inputs.derive_fixture(a.seed, work / "fixture")
        fixture_s = time.monotonic() - t
        args.update(ops=max(1, round(a.seconds / REFRESH_SECONDS)), batches=0)
    raw = run_jvm(jar, work, args, a.trace)

    env = raw["env"]
    plain = [op for op in raw["ops"] if not op["traced"]]
    traced = [op for op in raw["ops"] if op["traced"]]
    extra = raw["extra"]
    m = {
        "setup_s": fixture_s + raw["session_s"] + analysis.median(raw["setup_rounds_s"]),
        "wall_s": analysis.median([op["wall_s"] for op in plain]),
        "cpu_s": analysis.median([op["cpu_s"] for op in plain]),
        "live_heap_peak_mb": max(op["heap_peak_mb"] for op in plain),
    }
    samples = {"ops": len(plain), "setup_rounds": len(raw["setup_rounds_s"])}
    if a.workload == "datagen_loop":
        input_hash = extra["input_hash"]
        batches = [b for op in plain for b in op["output"]["batches"]]
        lat = [b["liveness_ms"] for b in batches]
        m["records_per_s"] = sum(b["records"] for b in batches) / sum(op["wall_s"] for op in plain)
        attempted, failed, problems = 0, 0, []
        for op in raw["ops"]:
            at, fa, pr = checks.check_datagen(op["output"]["batches"], extra)
            attempted, failed, problems = attempted + at, failed + fa, problems + pr
    else:
        # one "batch" of a corpus refresh is one Spark job
        lat = [e - s for op in plain for (_, s, e) in op["jobs"]]
        m["records_per_s"] = extra["documents"] / m["wall_s"]
        expected = checks.oracle(work / "fixture", extra["oracle_sql"])
        attempted, failed, problems = checks.check_refresh(
            [op["output"] for op in raw["ops"]], expected)
    m["batch_p50_ms"] = analysis.percentile(lat, 50)
    m["batch_p80_ms"] = analysis.percentile(lat, 80)
    samples["batches"] = len(lat)
    m["error_rate"] = failed / attempted

    if traced:  # per-layer metrics describe the last traced operation
        t = traced[-1]
        layers = dict.fromkeys(analysis.DATAGEN_LAYERS, 0)
        layers.update(analysis.trace_layers(t, env["cores"]))
        if a.workload == "datagen_loop":
            layers.update(analysis.datagen_layers(t["output"]))
        # traced ops alternate with untraced ones
        layers["trace.overhead_s"] = (analysis.median([op["wall_s"] for op in traced])
                                      - m["wall_s"])
        m.update(layers)
        trace_file = build.BUILD / "traces" / f"{a.workload}-seed{a.seed}.json"
        trace_file.parent.mkdir(parents=True, exist_ok=True)
        trace_file.write_text(json.dumps(raw))

    report = {
        "workload": a.workload, "seed": a.seed, "input_sha256": input_hash,
        "seconds": a.seconds, "trace": a.trace, "env": env,
        "setup": {"fixture_s": fixture_s, "session_s": raw["session_s"],
                  "rounds_s": raw["setup_rounds_s"]},
        "samples": samples, "metrics": m, "problems": problems[:20],
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    return report, result


if __name__ == "__main__":
    main()
