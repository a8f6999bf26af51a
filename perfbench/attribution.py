"""Turns the traced run's events into per-layer metrics.

A Spark job is attributed to a module by the file in its call site
(`csv at CsvIngest.scala:47` -> `ingest`). The file -> module map is
read from the source tree itself: a file under `graft/<module>/`
belongs to `<module>`, a file directly under `graft/` to `graft`, and
the benchmark's own files to `bench`. So a file that moves between
modules moves its jobs with it, with nothing to keep in sync here.
"""
import os
import re
import statistics

CALLSITE_FILE = re.compile(r"\bat ([A-Za-z0-9_$.-]+\.scala):\d+")
MB = 1 << 20


def module_map(repo_root):
    modules = {}
    graft = os.path.join(repo_root, "src", "main", "scala", "graft")
    for dirpath, _, files in os.walk(graft):
        rel = os.path.relpath(dirpath, graft)
        module = "graft" if rel == "." else rel.split(os.sep)[0]
        for f in files:
            if f.endswith(".scala"):
                modules[f] = module
    for f in os.listdir(os.path.join(repo_root, "perfbench", "scala")):
        modules[f] = "bench"
    return modules


def module_of(callsite, modules):
    m = CALLSITE_FILE.search(callsite or "")
    return modules.get(m.group(1), "other") if m else "other"


def _covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def iteration_metrics(events, it, modules, queries):
    """Per-layer metrics of one traced iteration `it` (a harness
    iteration record). Counts of the ETL layers come from the run's own
    report; everything else from the events tagged with the iteration."""
    i = it["i"]
    spans = [e for e in events if e["type"] == "span" and e["iter"] == i]
    starts = [e for e in events if e["type"] == "job_start" and e["iter"] == i]
    ends = {e["job"]: e for e in events if e["type"] == "job_end"}
    stage_ids = {int(s) for j in starts for s in j["stages"].split(",") if s}
    stages = [e for e in events if e["type"] == "stage" and e["stage"] in stage_ids]
    retries = [e for e in events if e["type"] == "task_retry" and e["stage"] in stage_ids]
    nodes = [e for e in events if e["type"] == "node" and e["iter"] == i]

    jobs = []
    for j in starts:
        end = ends.get(j["job"], {}).get("end_ms", j["start_ms"])
        jobs.append({"span": int(j["span"]), "module": module_of(j["callsite"], modules),
                     "sql": j.get("sql", ""), "start": j["start_ms"], "end": end})
    # a job whose call site names no program file (an adaptive query
    # stage run from a thread pool) belongs to the module that started
    # its SQL execution, or the execution that one is nested in
    sql = {e["sql"]: e for e in events if e["type"] == "sql_start"}
    for j in jobs:
        start = sql.get(j["sql"])
        while j["module"] == "other" and start:
            j["module"] = module_of(start["callsite"], modules)
            start = sql.get(start["root"]) if start["root"] != start["sql"] else None

    def node_sum(node, metric, name_has=""):
        return sum(n["metrics"].get(metric, 0) for n in nodes
                   if n["node"] == node and name_has in n["name"].lower())

    def module_jobs(module):
        js = [j for j in jobs if j["module"] == module]
        return len(js), sum(j["end"] - j["start"] for j in js) / 1e3

    top = [s for s in spans if s["kind"] in ("query",) or (s["kind"], s["name"]) == ("call", "run")]
    top_s = sum(s["end_ms"] - s["start_ms"] for s in top) / 1e3
    job_cover = sum(_covered([(j["start"], j["end"]) for j in jobs], s["start_ms"], s["end_ms"])
                    for s in top) / 1e3
    ledger = [s for s in spans if s["kind"] == "ledger"]
    pipeline = any((s["kind"], s["name"]) == ("call", "run") for s in spans)
    d = it["detail"]
    landed = len(d.get("good", [])) + len(d.get("quarantined", []))
    ingest_jobs, ingest_s = module_jobs("ingest")
    io_jobs, io_s = module_jobs("io")

    m = {
        "ingest.jobs": ingest_jobs, "ingest.job_s": ingest_s,
        "ingest.jobs_per_file": ingest_jobs / landed if landed else 0.0,
        "ingest.csv_rows": node_sum("FileSourceScanExec", "numOutputRows", "csv"),
        "ingest.files_accepted": len(d.get("good", [])),
        "ingest.files_quarantined": len(d.get("quarantined", [])),
        "ledger.calls": len(ledger),
        "ledger.s": sum(s["end_ms"] - s["start_ms"] for s in ledger) / 1e3,
        "app.driver_s": top_s - job_cover,
        "enrich.rows_in": d.get("rows_in", 0), "enrich.rows_out": d.get("rows_out", 0),
        # the enrichment's dimension broadcasts are the pipeline's only ones
        "enrich.broadcast_mb": node_sum("BroadcastExchangeExec", "dataSize") / MB
        if pipeline else 0.0,
        "marts.customer_rows": d.get("customer_rows", 0),
        "marts.sales_rows": d.get("sales_rows", 0),
        "io.jobs": io_jobs, "io.job_s": io_s,
        "io.files_written": node_sum("DataWritingCommandExec", "numFiles"),
        "io.mb_written": node_sum("DataWritingCommandExec", "numOutputBytes") / MB,
        "io.partition_dirs": node_sum("DataWritingCommandExec", "numParts"),
        "io.commit_s": (node_sum("DataWritingCommandExec", "jobCommitTime")
                        + node_sum("DataWritingCommandExec", "taskCommitTime")) / 1e3,
        "spark.jobs": len(jobs), "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.task_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "spark.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / MB,
        "spark.input_mb": sum(s["input_bytes"] for s in stages) / MB,
        "spark.spill_mb": sum(s["spill_bytes"] for s in stages) / MB,
        "spark.gc_s": it["gc_s"],
        "spark.task_retries": len(retries),
    }
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(root):
        out, todo = set(), [root]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(children.get(x, []))
        return out

    for q in queries:
        qs = [s for s in spans if s["kind"] == "query" and s["name"] == q]
        ids = set().union(*(subtree(s["id"]) for s in qs)) if qs else set()
        m[f"query.{q}.s"] = sum(s["end_ms"] - s["start_ms"] for s in qs) / 1e3
        m[f"query.{q}.jobs"] = sum(1 for j in jobs if j["span"] in ids)
    return m


def layer_metrics(events, iterations, modules, queries, prebuilds, untraced_run_s):
    """Median of each per-layer metric over the traced iterations, plus
    the set-up prebuild times and the tracing overhead against the
    untraced runs' `untraced_run_s`."""
    per_it = [iteration_metrics(events, it, modules, queries) for it in iterations]
    out = {k: statistics.median(m[k] for m in per_it) for k in per_it[0]}
    spans = [e for e in events if e["type"] == "span" and e["kind"] == "prebuild"]
    for label in prebuilds:
        xs = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in spans if s["name"] == label]
        out[f"prebuild.{label}.s"] = statistics.median(xs) if xs else 0.0
    out["trace.run_s"] = statistics.median(it["run_s"] for it in iterations)
    out["trace.overhead_s"] = out["trace.run_s"] - untraced_run_s
    return out
