#!/usr/bin/env python3
"""Benchmark of the retail ETL pipeline and its query surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run:

1. refuses to start while another sbt or Spark JVM is running (the
   timings would be skewed);
2. builds the program and the benchmark's JVM side (`build.sh`, skipped
   when no source changed);
3. generates the workload's inputs from the seed (`gen.py`; not timed);
4. launches one JVM directly (no build tool in the way) with the
   repository's JVM options and a fixed heap, which sets up `SETUPS`
   times and then times the workload's operations (a fixed number per
   workload, and more while `--seconds` have not passed);
5. checks every output against a DuckDB oracle (`oracle.py`; not timed);
6. prints one JSON object as the last line of stdout. `--trace 0`
   gives the end-to-end metrics, `--trace 1` the per-layer ones from a
   traced run (`attribution.py`).

It exits non-zero without a result when the program's sources or
toolchain are missing, and prints the result but exits 1 when an output
is wrong. All state lives under `.bench_build/perfbench/` in the
checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import attribution  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

SCALE = 0.01
CPUS = min(4, os.cpu_count() or 1)
HEAP = "2g"
SETUPS = 3
DEADLINE_S = 165  # after the build, a run ends within 180 s; the oracle needs the rest
SPARK_CORE = "spark-core_2.13-4.1.2.jar"


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the first
    `jars` directory beside a `bin/spark-submit` on the PATH that holds
    Spark itself (a Python wrapper's does not)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.exists(os.path.join(home, "jars", SPARK_CORE)):
            return os.path.join(home, "jars")
    return ""


JARS = spark_jars()

STAR_QUERIES = sorted([
    "q01_scan_project", "q02_filter", "q03_join", "q04_join3", "q05_union",
    "q06_group_month", "q07_window_distinct", "q08_rank_topk", "q09_incentive_mart",
    "q10_concat", "q11_distinct", "q12_topk_limit", "q13_customer_mart",
    "q15_union_fold", "qp1_pruned_read", "qp2_dpp_read",
    "qp3_bloom_join", "qp4_compaction", "qp5_zorder", "qp6_profile",
    "qp7_bucket_pruned", "qp8_dynamic_overwrite"])
PREBUILDS = ["qp1_hive_mart", "qp7_bucketed_tables"]

# workload -> (the harness's kind of operation, operations per run).
# Each is timed in a fresh JVM: a scheduled batch is one cold pipeline
# run; the query pass runs twice, cold then warm, because its ~20 s
# alone spread twice as wide as the pipeline's ~40 s.
WORKLOADS = {"etl_monthly": ("etl", 1), "star_reads": ("star", 2)}

# the JVM options of the repository's build.sbt (the add-opens Spark
# needs on JDK 17 outside spark-submit, UI off, UTC sessions)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JAVA_OPTIONS = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
    "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def other_spark_jvms():
    """Pids of running sbt, Spark or benchmark JVMs."""
    markers = ("sbt-launch", "xsbt.boot", "sbt.ForkMain", "org.apache.spark.deploy",
               "perfbench.Harness")
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        if argv and argv[0].endswith("java") and any(
                any(m in a for m in markers) or a.startswith("graft.") for a in argv):
            found.append(pid)
    return found


def tree_size(root, suffix=""):
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def launch(build, data, work, workload, seconds, trace, deadline):
    kind, iterations = WORKLOADS[workload]
    args = [f"workload={kind}", f"data={data}", f"work={work}", f"seconds={seconds}",
            f"min_iterations={iterations}",
            f"trace={trace}", f"setups={SETUPS}", f"cpus={CPUS}",
            f"launched_ms={int(time.time() * 1000)}", f"result={work}/result.json"]
    cmd = ["java", *JAVA_OPTIONS, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.stream.error.file={work}/derby.log",
           "-cp", f"{build}/classes:{JARS}/*", "perfbench.Harness", *args]
    env = dict(os.environ, GRAFT_ARTIFACT_DIR=f"{work}/artifacts")
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload}: the JVM did not finish in time (log: {work}/jvm.log)", 4)
    if code != 0 or not os.path.exists(f"{work}/result.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload}: the JVM exited with {code}", 4)
    with open(f"{work}/result.json") as f:
        return json.load(f)


def record_history(path, res):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"run_s": statistics.median(
            it["run_s"] for it in res["iterations"])}) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the program's sources are not here")
    if not JARS:
        fail(f"no Spark distribution with {SPARK_CORE}: set SPARK_HOME")
    busy = other_spark_jvms()
    if busy:
        fail(f"another sbt/Spark JVM is running (pids {', '.join(busy)}); "
             "refusing to measure next to it", 3)

    base = os.path.join(root, ".bench_build", "perfbench")
    build = os.path.join(base, "build")
    if subprocess.run(["bash", os.path.join(HERE, "build.sh"), build],
                      env=dict(os.environ, SPARK_JARS=JARS)).returncode != 0:
        fail("build failed", 5)
    deadline = time.monotonic() + DEADLINE_S

    kind = WORKLOADS[a.workload][0]
    data = os.path.join(base, "data", a.workload)
    work = os.path.join(base, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "artifacts"):
        os.makedirs(os.path.join(work, d))
    if kind == "etl":
        manifest = gen.landing(data, SCALE, a.seed)
        with open(f"{work}/expect.txt", "w") as f:
            f.write(f"good={','.join(manifest['good_files'])}\n"
                    f"crafted={manifest['crafted_file']}\nfact_rows={manifest['fact_rows']}\n")
    else:
        gen.star(data, SCALE, a.seed)
        with open(f"{work}/queries.txt", "w") as f:
            f.write("\n".join(STAR_QUERIES) + "\n")

    # tracing overhead = traced run_s - the untraced runs' median run_s;
    # untraced runs of this checkout leave theirs in `history`, and a
    # traced run with none to compare with makes one first
    history = os.path.join(base, "history", f"{a.workload}.jsonl")
    if a.trace and not os.path.exists(history):
        record_history(history, launch(build, data, work, a.workload, a.seconds, 0, deadline))
    res = launch(build, data, work, a.workload, a.seconds, a.trace, deadline)
    if not a.trace:
        record_history(history, res)
    iterations = res["iterations"]
    problems = list(res["errors"])

    # correctness, outside every timed region
    if kind == "etl":
        out_dir = f"{work}/etl/out"
        bad, detail = oracle.check_marts(out_dir, f"{data}/landing", f"{data}/dims",
                                         manifest["good_files"])
        problems += bad
        last = iterations[-1]["detail"]
        if (last.get("customer_rows"), last.get("sales_rows")) != \
                (detail["customer_rows"], detail["sales_rows"]):
            problems.append("the run's mart row counts differ from the oracle's")
        attempted = len(iterations)
        failed = sum(not it["ok"] for it in iterations)
        if bad and iterations[-1]["ok"]:
            failed += 1
        outputs = tree_size(out_dir, ".parquet")[0], tree_size(out_dir)[1]
    else:
        with open(f"{work}/oracle_sql.json") as f:
            oracle_sql = json.load(f)
        missing = set(STAR_QUERIES) - set(oracle_sql)
        problems += [f"{q}: no oracle SQL" for q in sorted(missing)]
        bad = oracle.check_queries(data, f"{work}/results", oracle_sql)
        problems += bad
        detail = {}
        attempted = len(iterations) * len(STAR_QUERIES)
        failed = sum(len(it["detail"].get("failed", [])) for it in iterations)
        # a wrong result counts against the last pass, whose output it is
        failed += len([p for p in bad if p.split(":")[0] not in
                       {f.split(":")[0] for f in iterations[-1]["detail"].get("failed", [])}])
        outputs = tree_size(f"{work}/tmp", ".parquet")[0], tree_size(f"{work}/tmp")[1]
    for p in problems:
        print(f"perfbench: {a.workload}: {p}", file=sys.stderr)

    if a.trace:
        with open(f"{work}/events.jsonl") as f:
            events = [json.loads(line) for line in f]
        with open(history) as f:
            untraced = statistics.median(json.loads(line)["run_s"] for line in f)
        metrics = attribution.layer_metrics(
            events, iterations, attribution.module_map(root),
            STAR_QUERIES, PREBUILDS, untraced)
        if kind == "etl":
            metrics["fs.files_moved"] = tree_size(f"{work}/etl/err")[0] + \
                tree_size(f"{work}/etl/done")[0]
        else:
            metrics["fs.files_moved"] = 0
    else:
        metrics = {
            # set-up repeats; the query workload's prebuilds run once
            "setup_s": statistics.median(res["setup_s"]) + res["prebuild_s"],
            "run_s": statistics.median(it["run_s"] for it in iterations),
            "peak_rss_mb": res["vmhwm_kb"] / 1024,
            "output_files": outputs[0],
            "output_mb": outputs[1] / (1 << 20),
        }
    for it in iterations:
        detail.update({f"query_s.{it['i']}.{q}": round(t, 3)
                       for q, t in it["detail"].get("query_s", {}).items()})
    print(json.dumps({"workload": a.workload, "seed": a.seed, "iterations": len(iterations),
                      "setup_s": res["setup_s"], "prebuild_s": res["prebuild_s"],
                      "run_s": [it["run_s"] for it in iterations],
                      **detail}), file=sys.stderr)
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())}}))
    sys.exit(0 if not problems else 1)


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb") or name.startswith("io.mb_"):
        return "MB"
    if name == "ingest.jobs_per_file":
        return "jobs/file"
    return "count"


if __name__ == "__main__":
    main()
