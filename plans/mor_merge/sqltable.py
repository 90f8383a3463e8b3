#!/usr/bin/env python3
"""Per-SQL-execution table of the last `mls_nightly` night in a Spark event log.

    python3 plans/mor_merge/sqltable.py <uncompressed event log file>

A night is the run of SQL executions from Job 1's first validation
checkpoint (`localCheckpoint at MlsValidate`) through the ORC mirror write
(`orc at TableIO`). For each execution of the last night it prints the
description, Spark jobs, tasks, task CPU, shuffle records and bytes written,
and the files and rows the execution's tasks wrote. Then, for the merge's
executions (those whose description names ManagedTable), one line per stage:
whether it scans table files (`FileScanRDD`) and the shuffle records it wrote.
"""
import json
import sys


def main(path):
    execs, stage_exec, stages, tasks = [], {}, {}, {}
    for line in open(path):
        e = json.loads(line)
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart"):
            execs.append((e["executionId"], e["description"]))
        elif ev == "SparkListenerJobStart":
            xid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            for s in e["Stage Infos"]:
                stages[s["Stage ID"]] = s
                if xid is not None:
                    stage_exec[s["Stage ID"]] = int(xid)
            if xid is not None:
                tasks.setdefault(int(xid), {"jobs": 0, "t": []})["jobs"] += 1
        elif ev == "SparkListenerTaskEnd":
            xid = stage_exec.get(e["Stage ID"])
            if xid is not None and e.get("Task Metrics"):
                tasks[xid]["t"].append((e["Stage ID"], e["Task Metrics"]))

    starts = [i for i, (_, d) in enumerate(execs)
              if d.startswith("localCheckpoint at MlsValidate")]
    night = execs[starts[-1]:]
    end = next(i for i, (_, d) in enumerate(night) if d.startswith("orc at TableIO"))
    night = night[:end + 1]

    print("| # | description | jobs | tasks | task CPU ms | shuffle records | "
          "shuffle bytes | files written | rows written |")
    print("|---|---|---|---|---|---|---|---|---|")
    tot = [0, 0, 0.0, 0, 0, 0, 0]
    for n, (xid, desc) in enumerate(night):
        ts = tasks.get(xid, {"jobs": 0, "t": []})
        ms = [m for _, m in ts["t"]]
        row = [ts["jobs"], len(ms),
               sum(m["Executor CPU Time"] for m in ms) / 1e6,
               sum(m["Shuffle Write Metrics"]["Shuffle Records Written"] for m in ms),
               sum(m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for m in ms),
               sum(1 for m in ms if m["Output Metrics"]["Records Written"] > 0),
               sum(m["Output Metrics"]["Records Written"] for m in ms)]
        tot = [a + b for a, b in zip(tot, row)]
        print(f"| {n} | `{desc}` | {row[0]} | {row[1]} | {row[2]:.0f} | {row[3]} | "
              f"{row[4]} | {row[5]} | {row[6]} |")
    print(f"| | total | {tot[0]} | {tot[1]} | {tot[2]:.0f} | {tot[3]} | {tot[4]} | "
          f"{tot[5]} | {tot[6]} |")

    print()
    print("| # | stage | tasks | scans table files | shuffle records |")
    print("|---|---|---|---|---|")
    for n, (xid, desc) in enumerate(night):
        if "ManagedTable" not in desc:
            continue
        by_stage = {}
        for sid, m in tasks.get(xid, {"t": []})["t"]:
            by_stage.setdefault(sid, []).append(m)
        for sid in sorted(by_stage):
            ms = by_stage[sid]
            scans = any(r["Name"] == "FileScanRDD" for r in stages[sid]["RDD Info"])
            recs = sum(m["Shuffle Write Metrics"]["Shuffle Records Written"] for m in ms)
            print(f"| {n} | {sid} | {len(ms)} | {'yes' if scans else 'no'} | {recs} |")


if __name__ == "__main__":
    main(sys.argv[1])
