#!/usr/bin/env python3
"""Print the per-job timeline of a traced perfbench run.

  python3 tools/timeline.py [--workload etl_monthly] [--iter N]

Reads `.bench_build/perfbench/work/<workload>/events.jsonl`, which
`perfbench/run.py --trace 1` leaves behind, and prints one line per
Spark job of the chosen iteration (default: the last): its start and
end in seconds from the start of the iteration's `run` span (or of its
first job, on a workload without one), its SQL execution id, the
module its call site names, its stages, tasks, task CPU, task time,
input bytes and shuffle-write bytes, then its call site. Jobs that
overlap in time ran concurrently. Only the benchmark's output is read.
"""
import argparse
import json
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.dont_write_bytecode = True  # leave perfbench/ as checked out
import attribution  # noqa: E402

MB = 1 << 20


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", default="etl_monthly")
    p.add_argument("--iter", type=int, default=None,
                   help="traced iteration (default: the last)")
    a = p.parse_args()

    path = os.path.join(ROOT, ".bench_build", "perfbench", "work", a.workload, "events.jsonl")
    if not os.path.exists(path):
        sys.exit(f"timeline: no {path}; run perfbench/run.py --workload {a.workload} --trace 1")
    with open(path) as f:
        events = [json.loads(line) for line in f]

    starts = [e for e in events if e["type"] == "job_start"]
    if not starts:
        sys.exit("timeline: the trace holds no job")
    it = max(e["iter"] for e in starts) if a.iter is None else a.iter
    starts = sorted((e for e in starts if e["iter"] == it), key=lambda e: (e["start_ms"], e["job"]))
    if not starts:
        sys.exit(f"timeline: iteration {it} started no job")
    ends = {e["job"]: e for e in events if e["type"] == "job_end"}
    stages = defaultdict(list)
    for e in events:
        if e["type"] == "stage":
            stages[e["stage"]].append(e)
    sql = {e["sql"]: e for e in events if e["type"] == "sql_start"}
    modules = attribution.module_map(ROOT)

    runs = [e for e in events if e["type"] == "span" and e["iter"] == it and e["name"] == "run"]
    t0 = runs[0]["start_ms"] if runs else starts[0]["start_ms"]
    if runs:
        print(f"iteration {it}: run span {(runs[0]['end_ms'] - t0) / 1e3:.2f} s")
    else:
        print(f"iteration {it}: no run span; times from the first job")

    header = (f"{'job':>4} {'start_s':>8} {'end_s':>8} {'sql':>4} {'module':<8} "
              f"{'stages':>6} {'tasks':>5} {'cpu_s':>6} {'task_s':>6} "
              f"{'in_mb':>6} {'shuf_mb':>7}  callsite")
    print(header)
    totals = defaultdict(float)
    for j in starts:
        # skipped stages (already computed) record no completion event
        ran = [s for sid in j["stages"].split(",") if sid for s in stages.get(int(sid), [])]
        row = {
            "stages": len(ran),
            "tasks": sum(s["tasks"] for s in ran),
            "cpu_s": sum(s["cpu_ns"] for s in ran) / 1e9,
            "task_s": sum(s["run_ms"] for s in ran) / 1e3,
            "in_mb": sum(s["input_bytes"] for s in ran) / MB,
            "shuf_mb": sum(s["shuffle_write_bytes"] for s in ran) / MB,
        }
        for k, v in row.items():
            totals[k] += v
        end = ends.get(j["job"])
        end_s = f"{(end['end_ms'] - t0) / 1e3:8.2f}" if end else f"{'-':>8}"
        # an adaptive stage's call site names no program file; its SQL
        # execution's call site does
        callsite = j["callsite"]
        module = attribution.module_of(callsite, modules)
        start = sql.get(j.get("sql", ""))
        while module == "other" and start:
            callsite = start["callsite"]
            module = attribution.module_of(callsite, modules)
            start = sql.get(start["root"]) if start["root"] != start["sql"] else None
        print(f"{j['job']:>4} {(j['start_ms'] - t0) / 1e3:8.2f} {end_s} {j.get('sql', ''):>4} "
              f"{module:<8} {row['stages']:>6} {row['tasks']:>5} {row['cpu_s']:6.2f} "
              f"{row['task_s']:6.2f} {row['in_mb']:6.2f} {row['shuf_mb']:7.2f}  "
              f"{callsite.splitlines()[0] if callsite else ''}")
    print(f"{len(starts):>4} jobs{'':<32}{int(totals['stages']):>6} {int(totals['tasks']):>5} "
          f"{totals['cpu_s']:6.2f} {totals['task_s']:6.2f} {totals['in_mb']:6.2f} "
          f"{totals['shuf_mb']:7.2f}")


if __name__ == "__main__":
    main()
