#!/usr/bin/env python3
"""Janino compile census per run, from a Spark log that holds CodeGenerator's
DEBUG events.

    python3 tools/codegen_census.py <log> [--json out.json]

The log must be written with this log4j2 pattern (the SKILL.md recipe has a
whole properties file):

    %d{HH:mm:ss.SSS} %p %c{1} %t [%X{mdc.taskName}]: %m%n

with `org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator` at
DEBUG (each compile logs its generated source at DEBUG, then "Code generated
in <ms> ms" at INFO) and `org.apache.spark.scheduler.DAGScheduler` at INFO
(one "Got job" or "Got map stage job" line per job). A run starts at an event
whose message is `graft-census run <name>` and ends at the next such marker;
events before the first marker are not counted.

Per run it prints:
- compiles: generated classes compiled (DEBUG source events);
- distinct: distinct generated bodies among them;
- both: bodies compiled under the driver's class loader AND the task's.
  Spark 4.1 keys its codegen cache by (class loader, body), so a body
  compiled on a driver thread and on an executor task thread is compiled
  twice. A compile counts as the task's when its thread is an executor task
  thread ("Executor task launch worker ...") or its MDC task name is set
  (Spark 4.1 fills `mdc.taskName` only under
  `spark.log.legacyTaskNameMdc.enabled`, so the thread name usually decides);
- jobs and compiles per job;
- janino_ms: the summed "Code generated in" times.
Bodies are compared as logged: `spark.sql.codegen.logging.maxLines` (1000 by
default) truncates longer ones.
"""
import argparse
import hashlib
import json
import re
import sys

EVENT = re.compile(r"^(\d\d:\d\d:\d\d\.\d+) (TRACE|DEBUG|INFO|WARN|ERROR|FATAL) (\S+) (.*?) \[([^\]]*)\]: ?(.*)$")
LINE_NO = re.compile(r"^/\* \d+ \*/ ?")
GENERATED_IN = re.compile(r"^Code generated in ([0-9.]+) ms")
GOT_JOB = re.compile(r"^Got (map stage )?job \d+")
MARKER = re.compile(r"graft-census run (\S+)")
TASK_THREAD = "Executor task launch worker"


def events(lines):
    """(level, logger, thread, mdc, message) per event; continuation lines
    join the message of the event they follow."""
    cur = None
    for raw in lines:
        line = raw.rstrip("\n")
        m = EVENT.match(line)
        if m:
            if cur:
                yield cur
            cur = [m.group(2), m.group(3), m.group(4), m.group(5), [m.group(6)]]
        elif cur:
            cur[4].append(line)
    if cur:
        yield cur


class Run:
    def __init__(self, name):
        self.name = name
        self.compiles = 0
        self.loaders = {}  # body hash -> {"driver", "task"}
        self.jobs = 0
        self.janino_ms = 0.0

    def row(self):
        both = sum(1 for s in self.loaders.values() if len(s) == 2)
        return {"run": self.name, "compiles": self.compiles, "distinct": len(self.loaders),
                "both": both, "jobs": self.jobs,
                "compiles_per_job": self.compiles / self.jobs if self.jobs else None,
                "janino_ms": round(self.janino_ms, 1)}


def census(lines):
    runs, cur = [], None
    for level, logger, thread, mdc, msg in events(lines):
        first = msg[0]
        m = MARKER.search(first)
        if m:
            cur = Run(m.group(1))
            runs.append(cur)
            continue
        if cur is None:
            continue
        if logger == "CodeGenerator" and level == "DEBUG":
            body = "\n".join(LINE_NO.sub("", l) for l in msg[1:]).strip()
            if not body:
                continue
            key = hashlib.sha1(body.encode()).hexdigest()
            loader = "task" if thread.startswith(TASK_THREAD) or mdc else "driver"
            cur.compiles += 1
            cur.loaders.setdefault(key, set()).add(loader)
        elif logger == "CodeGenerator" and GENERATED_IN.match(first):
            cur.janino_ms += float(GENERATED_IN.match(first).group(1))
        elif logger == "DAGScheduler" and GOT_JOB.match(first):
            cur.jobs += 1
    return [r.row() for r in runs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--json", help="also write the rows as a JSON list")
    a = ap.parse_args()
    with open(a.log, errors="replace") as f:
        rows = census(f)
    if not rows:
        sys.exit(f"no run marker matching {MARKER.pattern!r} in {a.log}")
    print(f"{'run':<16}{'compiles':>9}{'distinct':>9}{'both':>6}{'jobs':>6}{'per_job':>9}{'janino_ms':>11}")
    for r in rows:
        per_job = "-" if r["compiles_per_job"] is None else f"{r['compiles_per_job']:.2f}"
        print(f"{r['run']:<16}{r['compiles']:>9}{r['distinct']:>9}{r['both']:>6}{r['jobs']:>6}"
              f"{per_job:>9}{r['janino_ms']:>11.1f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(rows, f, indent=1)


if __name__ == "__main__":
    main()
