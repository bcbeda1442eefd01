#!/usr/bin/env python3
"""Whole-stage codegen footprint of a Spark run, read from its log.

Spark compiles one Java class per distinct generated source and keeps the
compiled classes in `CodeGenerator.cache`, keyed by the full source text.
A driver that repeats a pipeline pays compilation again whenever the
pipeline's distinct sources overflow that cache. This tool counts what a
run compiled, so a pipeline's footprint can be compared with the cache.

Input: a Spark log written with the logger
`org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator` at DEBUG
and a pattern that starts each line with `HH:mm:ss.SSS` and the level,
for example `%d{HH:mm:ss.SSS} %p %c{1}: %m%n`. At DEBUG the logger prints
every source it compiles (lines `/* 001 */ ...`); at INFO it prints
`Code generated in <ms> ms` once per compile.

    python3 tools/codegen_footprint.py spark.log
    python3 tools/codegen_footprint.py spark.log --after 08:05:56.000 --before 08:06:10.000

Prints one JSON object:
  compiles             sources compiled (DEBUG source blocks)
  compile_ms           sum of the `Code generated in` times
  distinct_bodies      distinct source texts
  distinct_normalized  distinct source texts once the codegen stage id
                       (`codegenStageId=N`, `...CodegenStageN`) is blanked:
                       sources that differ only in where the same sub-plan
                       sits in a query
  repeated             distinct source texts compiled two or more times
  cache_keys           distinct (class loader, source) pairs — the
                       entries the codegen cache must hold. The cache
                       keys each source by the compiling thread's class
                       loader: driver threads share one, executor task
                       threads another, so a whole-stage class compiled
                       on both takes two entries. Needs the thread name
                       in the pattern (`%p [%t] %c{1}`); without it every
                       record counts as the driver's and this equals
                       distinct_bodies.
`--after` / `--before` keep only log records stamped inside that window.

To see a pipeline's whole working set rather than its cache misses, run
it with `-Dspark.sql.codegen.cache.maxEntries=4`: every lookup then
compiles and is logged.
"""
import argparse
import json
import re
import sys
from collections import Counter

RECORD = re.compile(r"^(\d{2}:\d{2}:\d{2}\.\d{3}) (\w+) ")
SOURCE_LINE = re.compile(r"^/\* \d+ \*/")
COMPILED = re.compile(r"CodeGenerator: Code generated in ([0-9.]+) ms")
STAGE_ID = re.compile(r"(codegenStageId=|CodegenStage)\d+")
TASK_THREAD = "Executor task launch worker"


def records(lines):
    """(timestamp, first line, continuation lines) per log record."""
    stamp, head, body = None, None, []
    for line in lines:
        line = line.rstrip("\n")
        m = RECORD.match(line)
        if m:
            if head is not None:
                yield stamp, head, body
            stamp, head, body = m.group(1), line, []
        elif head is not None:
            body.append(line)
    if head is not None:
        yield stamp, head, body


def footprint(lines, after=None, before=None):
    sources, keys, compile_ms = [], set(), 0.0
    for stamp, head, body in records(lines):
        if (after and stamp < after) or (before and stamp >= before):
            continue
        if " DEBUG " in head and "CodeGenerator:" in head:
            src = "\n".join(l for l in body if SOURCE_LINE.match(l))
            if src:
                sources.append(src)
                keys.add((TASK_THREAD in head, src))
        else:
            m = COMPILED.search(head)
            if m:
                compile_ms += float(m.group(1))
    counts = Counter(sources)
    return {
        "compiles": len(sources),
        "compile_ms": round(compile_ms, 1),
        "distinct_bodies": len(counts),
        "distinct_normalized": len({STAGE_ID.sub(r"\1#", s) for s in counts}),
        "repeated": sum(1 for n in counts.values() if n >= 2),
        "cache_keys": len(keys),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    ap.add_argument("--after", help="HH:MM:SS.mmm, keep records at or after it")
    ap.add_argument("--before", help="HH:MM:SS.mmm, keep records before it")
    a = ap.parse_args(argv)
    with open(a.log, errors="replace") as f:
        print(json.dumps(footprint(f, a.after, a.before), sort_keys=True))


if __name__ == "__main__":
    sys.exit(main())
