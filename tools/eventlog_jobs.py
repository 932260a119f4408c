#!/usr/bin/env python3
"""Per-job timeline from a Spark event log.

For every job in an uncompressed event log, prints one line: start (s since
the application started), wall (s), stages that ran (skipped stages are not
counted), tasks, executor run seconds and executor CPU seconds summed over
the job's tasks, the smallest task count of any stage that ran (a 1 there is
a stage on one core), and the first `graft.*` frame of the call site that
submitted the job. A job Spark submits from its own threads (a broadcast
build) has no `graft.*` frame of its own: it is attributed to the SQL
execution it ran for (the job's `spark.sql.execution.root.id`, whose
`SparkListenerSQLExecutionStart` carries the action's call site), and a
broadcast build is tagged `[broadcast]`. Otherwise the first frame is shown
in parentheses.

Getting a log needs no program change: the JVM picks the settings up from
JAVA_TOOL_OPTIONS, e.g. for a benchmark run

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false \
      -Dspark.eventLog.dir=file:/tmp/evlog" \
      python3 pipebench/run.py --workload corpus_ingest --seed 51 --seconds 15 --trace 1

Usage:
    python3 tools/eventlog_jobs.py <event log file or dir> [--from S] [--to S] [--grep TEXT]

A directory means the newest log in it (a rolling log's directory is read
whole). --from/--to keep the jobs that start in
that window (s since the application started); --grep keeps the jobs whose
call-site frame contains TEXT. The last line sums the jobs printed.
"""
import argparse
import json
import os
import sys


def log_files(path):
    """The files of one log: a plain file, a rolling log's `events_<n>_*`
    parts in order, or else the newest log under a directory."""
    if not os.path.isdir(path):
        return [path]
    names = [f for f in os.listdir(path) if not f.startswith(".")]
    parts = [f for f in names if f.startswith("events_")]
    if parts:
        return [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    if not names:
        sys.exit(f"no event log under {path}")
    return log_files(max((os.path.join(path, f) for f in names), key=os.path.getmtime))


def graft_frame(details):
    """The first `graft.*` frame; else the first frame in parentheses (a job
    a Spark-internal thread submitted, e.g. a broadcast)."""
    lines = [l.strip() for l in (details or "").splitlines() if l.strip()]
    for line in lines:
        if line.startswith("graft."):
            return line
    return f"({lines[0]})" if lines else ""


def events(files):
    for path in files:
        with open(path, encoding="utf-8") as f:
            for raw in f:
                yield json.loads(raw)


def load(files):
    app_start = None
    jobs = {}           # job id -> dict
    stage_job = {}      # stage id -> job id
    stages_run = {}     # stage id -> task count of the attempt that ran
    task_run_ms = {}    # stage id -> executor run ms
    task_cpu_ns = {}    # stage id -> executor cpu ns
    sql_sites = {}      # SQL execution id -> call site of its action
    for ev in events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            infos = ev.get("Stage Infos", [])
            site = ""
            for si in sorted(infos, key=lambda s: -s["Stage ID"]):
                site = graft_frame(si.get("Details"))
                if site:
                    break
            props = ev.get("Properties") or {}
            jobs[jid] = {"start": ev["Submission Time"], "end": None, "stages": [],
                         "site": site, "result": "",
                         "root": props.get("spark.sql.execution.root.id"),
                         "broadcast": "broadcast exchange" in props.get("spark.job.tags", "")}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev["Completion Time"]
                j["result"] = ev.get("Job Result", {}).get("Result", "")
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_sites[str(ev.get("executionId"))] = graft_frame(ev.get("details"))
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            stages_run[si["Stage ID"]] = si["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            task_run_ms[sid] = task_run_ms.get(sid, 0) + m.get("Executor Run Time", 0)
            task_cpu_ns[sid] = task_cpu_ns.get(sid, 0) + m.get("Executor CPU Time", 0)
    for sid in stages_run:
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid]["stages"].append(sid)
    for j in jobs.values():
        sql_site = sql_sites.get(j["root"], "")
        if j["site"].startswith("(") and sql_site and not sql_site.startswith("("):
            j["site"] = sql_site
        if j["broadcast"]:
            j["site"] = "[broadcast] " + j["site"]
    return app_start, jobs, stages_run, task_run_ms, task_cpu_ns


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--from", dest="t0", type=float, default=None)
    ap.add_argument("--to", dest="t1", type=float, default=None)
    ap.add_argument("--grep", default=None)
    a = ap.parse_args()
    app_start, jobs, stages_run, run_ms, cpu_ns = load(log_files(a.log))
    if not jobs:
        sys.exit("no jobs in the log")
    base = app_start if app_start is not None else min(j["start"] for j in jobs.values())
    print(f"{'job':>5} {'start_s':>8} {'wall_s':>7} {'stages':>6} {'tasks':>6} {'min_t':>5} "
          f"{'run_s':>7} {'cpu_s':>7}  call site")
    tot = {"n": 0, "wall": 0.0, "stages": 0, "tasks": 0, "run": 0.0, "cpu": 0.0}
    for jid in sorted(jobs):
        j = jobs[jid]
        start = (j["start"] - base) / 1000.0
        if a.t0 is not None and start < a.t0:
            continue
        if a.t1 is not None and start > a.t1:
            continue
        if a.grep and a.grep not in j["site"]:
            continue
        wall = ((j["end"] or j["start"]) - j["start"]) / 1000.0
        tasks = sum(stages_run[s] for s in j["stages"])
        min_t = min((stages_run[s] for s in j["stages"]), default=0)
        run = sum(run_ms.get(s, 0) for s in j["stages"]) / 1000.0
        cpu = sum(cpu_ns.get(s, 0) for s in j["stages"]) / 1e9
        flag = "" if j["result"] in ("", "JobSucceeded") else f"  [{j['result']}]"
        print(f"{jid:>5} {start:>8.3f} {wall:>7.3f} {len(j['stages']):>6} {tasks:>6} {min_t:>5} "
              f"{run:>7.2f} {cpu:>7.2f}  {j['site']}{flag}")
        tot["n"] += 1
        tot["wall"] += wall
        tot["stages"] += len(j["stages"])
        tot["tasks"] += tasks
        tot["run"] += run
        tot["cpu"] += cpu
    print(f"total: {tot['n']} jobs, {tot['wall']:.3f} job-wall s, {tot['stages']} stages, "
          f"{tot['tasks']} tasks, {tot['run']:.2f} run s, {tot['cpu']:.2f} cpu s")


if __name__ == "__main__":
    main()
