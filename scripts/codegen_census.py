#!/usr/bin/env python3
"""Census of the generated classes a Spark run compiles, by job call site.

Spark caches each compiled class under (context classloader, source), so a
whole-stage class takes two entries: one compiled on a driver thread (the
query's own thread or an AQE stage thread) and one on the executor's task
thread. The default cache keeps 100 entries; a call whose working set is
larger recompiles part of it every time it runs.

Usage:

    JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=scripts/codegen_census.log4j2.properties \\
      python3 pfsabench/run.py --workload fit_large --seed 1 --seconds 12 --trace 1 \\
      2> census.log
    python3 scripts/codegen_census.py census.log \\
      [--spans .bench_build/pfsabench/results/fit_large-seed1-trace1.spans.jsonl] \\
      [--call-start 'Workloads.scala:134'] [--call N]

Calls: with --call-start, a call starts at each job whose log call site
matches the regex; else, with --spans, each top-level span of the span file
is one call; otherwise the whole log is one call. Every traced job takes the
library call site the tracer gave it, and the jobs of an untraced call take
those of a traced call with as many jobs, in order. Other AQE jobs show
Spark's own site (CompletableFuture).

Prints one line per call (compiles, distinct entries by thread kind,
recompiles of an entry an earlier call already compiled) and, for call N
(default 0, the first), the entries it compiled per job call site and class
kind, as driver/task. Attribution: a task-thread compile belongs to the job
of its stage; a driver-thread compile to the next job that starts after it.
"""

import argparse
import collections
import hashlib
import json
import re
import sys

LINE = re.compile(r"^(\d{13}) \[(.*?)\] (\w+) (\w+): (.*)$")
GOT_JOB = re.compile(r"Got (?:map stage )?job (\d+) \((.*)\) with \d+ output partitions")
STAGE = re.compile(r"(?:Final stage|Submitting): (?:ResultStage|ShuffleMapStage) (\d+) ")
SUBMIT = re.compile(r"^Submitting (?:ResultStage|ShuffleMapStage) (\d+) ")
TASK_THREAD = re.compile(r"^Executor task launch worker for task [\d.]+ in stage (\d+)\.\d+")
NEW_CLASS = re.compile(r"return new (\w+)\(")
LINE_NO = re.compile(r"^/\* \d+ \*/ ?", re.M)
COMMENT = re.compile(r"/\*.*?\*/", re.S)


def kind_of(source):
    m = NEW_CLASS.search(source)
    name = m.group(1) if m else "Unknown"
    if name.startswith("GeneratedIteratorForCodegenStage"):
        return "WholeStage"
    return name[len("Specific"):] if name.startswith("Specific") else name


def entry_key(source):
    """The part of the source the cache keys on: comments and line numbers
    (plan text, expression ids) are not part of the compiled body."""
    body = COMMENT.sub("", LINE_NO.sub("", source))
    return hashlib.sha1(" ".join(body.split()).encode()).hexdigest()


def read_log(path):
    """Events in log order: ("compile", ms, thread, source) and
    ("job", ms, job_id, site) plus the stage → job map."""
    events, stage_job = [], {}
    current_job = None
    pending = None  # (ms, thread, [source lines]) of a DEBUG CodeGenerator dump

    def flush():
        nonlocal pending
        if pending is not None:
            events.append(("compile", pending[0], pending[1], "\n".join(pending[2])))
            pending = None

    with open(path, errors="replace") as fh:
        for raw in fh:
            line = raw.rstrip("\n")
            m = LINE.match(line)
            if not m:
                if pending is not None:
                    pending[2].append(line)
                continue
            flush()
            ms, thread, level, logger, msg = int(m.group(1)), m.group(2), m.group(3), m.group(4), m.group(5)
            if logger == "CodeGenerator" and level == "DEBUG":
                pending = (ms, thread, [msg])
            elif logger == "DAGScheduler":
                g = GOT_JOB.search(msg)
                if g:
                    current_job = int(g.group(1))
                    events.append(("job", ms, current_job, g.group(2)))
                    continue
                s = STAGE.search(msg) or SUBMIT.search(msg)
                if s and current_job is not None:
                    stage_job.setdefault(int(s.group(1)), current_job)
    flush()
    return events, stage_job


def read_spans(path):
    calls, sites = [], {}
    with open(path) as fh:
        for raw in fh:
            s = json.loads(raw)
            if s.get("parent") is None:
                calls.append((s["start_ms"], s["end_ms"]))
            elif str(s["span"]).startswith("job"):
                sites[int(s["span"][3:])] = s["name"]
    return sorted(calls), sites


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--spans")
    ap.add_argument("--call-start")
    ap.add_argument("--call", type=int, default=0)
    a = ap.parse_args()

    events, stage_job = read_log(a.log)
    span_calls, span_sites = read_spans(a.spans) if a.spans else ([], {})
    sites = {e[2]: e[3] for e in events if e[0] == "job"}
    sites.update(span_sites)

    # job of every compile
    compiles = []  # (ms, driver|task, kind, key, job)
    waiting = []
    for e in events:
        if e[0] == "job":
            for c in waiting:
                c[4] = e[2]
            waiting = []
            continue
        _, ms, thread, source = e
        t = TASK_THREAD.match(thread)
        c = [ms, "task" if t else "driver", kind_of(source), entry_key(source),
             stage_job.get(int(t.group(1))) if t else None]
        compiles.append(c)
        if not t:
            waiting.append(c)

    # call of every compile and job
    if a.call_start:
        starts = [e[1] for e in events if e[0] == "job" and re.search(a.call_start, e[3])]
        def call_of(ms):
            i = sum(1 for s in starts if s <= ms) - 1
            return i if i >= 0 else None
        n_calls = len(starts)
    elif span_calls:
        def call_of(ms):
            for i, (s, e) in enumerate(span_calls):
                if s <= ms <= e:
                    return i
            return None
        n_calls = len(span_calls)
    else:
        def call_of(ms):
            return 0
        n_calls = 1

    # an untraced call takes the library sites of a traced call with the
    # same job sequence length, job by job
    jobs_of = collections.defaultdict(list)
    for e in events:
        if e[0] == "job" and call_of(e[1]) is not None:
            jobs_of[call_of(e[1])].append(e[2])
    traced = {len(js): js for js in jobs_of.values() if any(j in span_sites for j in js)}
    for js in jobs_of.values():
        ref = traced.get(len(js))
        if ref and not any(j in span_sites for j in js):
            for j, r in zip(js, ref):
                if r in span_sites:
                    sites[j] = span_sites[r]

    seen = set()
    per_call = collections.defaultdict(list)
    for c in compiles:
        i = call_of(c[0])
        if i is not None:
            per_call[i].append(c)
    print(f"{'call':>4} {'compiles':>8} {'entries':>7} {'driver':>6} {'task':>5} {'recompiles':>10}")
    for i in range(n_calls):
        cs = per_call.get(i, [])
        entries = {(c[1], c[3]) for c in cs}
        recompiled = len(entries & seen)
        seen |= entries
        print(f"{i:>4} {len(cs):>8} {len(entries):>7} "
              f"{sum(1 for e in entries if e[0] == 'driver'):>6} "
              f"{sum(1 for e in entries if e[0] == 'task'):>5} {recompiled:>10}")
    outside = sum(1 for c in compiles if call_of(c[0]) is None)
    if outside:
        print(f"(+{outside} compiles outside every call)")

    cs = per_call.get(a.call, [])
    if not cs:
        return
    table = collections.defaultdict(lambda: collections.defaultdict(lambda: [set(), set()]))
    for ms, where, kind, key, job in cs:
        site = sites.get(job, "?") if job is not None else "?"
        table[site][kind][0 if where == "driver" else 1].add(key)
    kinds = sorted({k for site in table.values() for k in site})
    print(f"\ncall {a.call}: entries per job call site and class kind, as driver/task")
    width = max(len(s) for s in table) + 2
    print("site".ljust(width) + "".join(f"{k[:16]:>17}" for k in kinds) + f"{'total':>8}")
    total = [0, 0]
    for site in sorted(table, key=lambda s: -sum(len(d) + len(t) for d, t in table[s].values())):
        row, n = table[site], 0
        cells = []
        for k in kinds:
            d, t = row[k] if k in row else (set(), set())
            cells.append(f"{len(d)}/{len(t)}" if d or t else "")
            n += len(d) + len(t)
            total[0] += len(d)
            total[1] += len(t)
        print(site.ljust(width) + "".join(f"{x:>17}" for x in cells) + f"{n:>8}")
    print(f"{'total':<{width}}" + " " * 17 * len(kinds) + f"{sum(total):>8}"
          f"  ({total[0]} driver, {total[1]} task)")


if __name__ == "__main__":
    sys.exit(main())
