#!/usr/bin/env python3
"""Print the job and write timeline of a traced benchmark run.

Usage: python3 scripts/timeline.py bench/work/run-<workload>/raw.json

Reads the raw records a `bench/run.py --trace 1` run leaves behind and,
for each timed step (the timed night, or each query of the timed pass),
prints one line per Spark job and one per warehouse write that started
inside the step, sorted by start time:

  job   <id> <layer> <start>-<end> ms  stages tasks task_ms
  write <table>      <start>-<end> ms

Times are milliseconds relative to the step's start. A job belongs to
the step its start falls in, the rule bench/metrics.py uses for the
per-layer metrics, so the job, stage and task totals printed at the end
of a step are that step's `spark.jobs`, `spark.stages` and `spark.tasks`.
"""
import json
import sys


def main(path):
    raw = json.load(open(path))
    trace = raw["trace"]
    jobs = [j for j in trace["jobs"] if j["end"] >= 0]
    # a write record holds its end and duration; its start is derived
    writes = [dict(w, start=w["end"] - w["ms"]) for w in trace["writes"]]
    for step in raw["result"]["steps"]:
        t0, t1 = step["start"], step["end"]

        def inside(x):
            return t0 <= x["start"] <= t1

        rows = [(j["start"], 0, j) for j in jobs if inside(j)] + \
               [(w["start"], 1, w) for w in writes if inside(w)]
        print(f"# step {step['label']} ({step['group']}): {step['s']:.3f} s")
        for _, kind, x in sorted(rows, key=lambda r: (r[0], r[1])):
            span = f"{x['start'] - t0:>7}-{x['end'] - t0:<7}"
            if kind == 0:
                print(f"job   {x['id']:>5} {x['layer']:<28} {span} "
                      f"stages={x['stages']:<3} tasks={x['tasks']:<4} task_ms={x['task_ms']}")
            else:
                print(f"write {x['table']:<34} {span} ms={x['ms']}")
        js = [j for j in jobs if inside(j)]
        print(f"# jobs={len(js)} stages={sum(j['stages'] for j in js)} "
              f"tasks={sum(j['tasks'] for j in js)} "
              f"task_ms={sum(j['task_ms'] for j in js)}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
