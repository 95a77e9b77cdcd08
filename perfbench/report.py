#!/usr/bin/env python3
"""Prints the per-layer table of a traced benchmark run.

    python3 perfbench/report.py perfbench/.out/trace-glm-1.json

One row per call into a layer, with medians over the timed rounds: wall
time, self time (the call's span minus the time its Spark jobs cover, i.e.
time on the Spark driver; the trace's `driver_s`), jobs, task CPU, shuffle
and result megabytes, and the solver passes where the call is a fit. A last
row sums the round.
"""
import json
import statistics
import sys

COLUMNS = ["wall_s", "driver_s", "jobs", "task_cpu_s", "shuffle_mb", "result_mb",
           "passes"]
HEADERS = ["wall_s", "self_s", "jobs", "task_cpu_s", "shuffle_mb", "result_mb",
           "passes"]


def table(trace):
    spans = trace["spans"]
    rounds = {s["id"] for s in spans
              if s["kind"] == "round" and s["name"].startswith("round ")}
    rows, per_round = {}, {}
    for s in spans:
        if s["kind"] != "call" or s["parent"] not in rounds:
            continue
        c = s["counters"]
        rows.setdefault(s["name"], []).append(c)
        tot = per_round.setdefault(s["parent"], {})
        for k in COLUMNS:
            tot[k] = tot.get(k, 0.0) + c.get(k, 0.0)
    rows["round"] = list(per_round.values())
    return {name: [statistics.median(r.get(k, 0.0) for r in rs) for k in COLUMNS]
            for name, rs in rows.items()}


def main():
    for path in sys.argv[1:]:
        with open(path) as f:
            trace = json.load(f)
        print("%s: %d slots, %d MB heap, setup %.2f s, %d timed rounds, "
              "median round %.3f s" % (
                  trace["workload"], trace["slots"], trace["heap_mb"],
                  trace["setup_s"], len(trace["round_s"]),
                  statistics.median(trace["round_s"])))
        print("%-36s" % "call" + "".join("%12s" % h for h in HEADERS))
        for name, values in table(trace).items():
            print("%-36s" % name + "".join("%12.3f" % v for v in values))
        print()


if __name__ == "__main__":
    main()
