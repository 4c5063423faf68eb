#!/usr/bin/env python3
"""Records the benchmark's expected results and calibrated query costs.

    python3 perfbench/record.py [workload ...]

For each query workload (default: all) it runs every query of the workload
on the benchmark's tables twice, in two different orders, in separate JVMs:

  - the first run writes each result as parquet and runs tools/parity.py
    (the DuckDB oracle) over it; then times each query once more, warm,
    which becomes its calibrated cost in workloads.json;
  - the second run only fingerprints.

A query gets an "fp" (checked on every run) only when parity passes and
both orders agree. Any other query gets its row count, and an "order_fp"
when both orders agree, so that a later order dependence is still caught. Queries whose orders disagree get no fingerprint and are
listed, so the disagreement is visible rather than recorded as expected.
"""
import json
import os
import random
import re
import subprocess
import sys

import run

PARITY = os.path.join(run.ROOT, "tools", "parity.py")
RECORD_TIMEOUT_S = 1800


def harness(cp, data, names, order_seed, tag, dump=None, time_warm=False):
    order = sorted(names)
    random.Random(order_seed).shuffle(order)
    conf = [("conf", "cpus", run.cpus()), ("conf", "work", run.WORK), ("conf", "data", data),
            ("conf", "trace", 0)]
    if dump:
        conf.append(("conf", "dump", dump))
    lines = conf + [("check", f"c{i:03d}", n, data) for i, n in enumerate(order)]
    if time_warm:
        lines += [("op", "u", f"w{i:03d}", "query", n, data) for i, n in enumerate(order)]
    return run.run_jvm(cp, lines, f"record-{tag}-{order_seed}", timeout=RECORD_TIMEOUT_S)


def parity(data, dump):
    p = subprocess.run([sys.executable, PARITY, data, dump], capture_output=True, text=True,
                       cwd=run.WORK)
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):?(\s|$)", line)
        if m:
            verdict[m.group(2)] = m.group(1)
    return verdict


def main(argv):
    workloads = run.load("workloads.json")
    expected = run.load("expected.json")
    chosen = argv or list(workloads)
    cp = run.build()
    disagree = []
    for wname in chosen:
        w = workloads[wname]
        data = run.DATA
        names = list(w["queries"])
        dump = os.path.join(run.WORK, "record-dump", wname)
        first = harness(cp, data, names, 1, wname, dump=dump, time_warm=True)
        second = harness(cp, data, names, 2, wname)
        verdict = parity(data, dump)
        oracle = set([r for r in first if r["type"] == "registry"][0]["oracle"])
        a = {r["name"]: r for r in first if r["type"] == "check"}
        b = {r["name"]: r for r in second if r["type"] == "check"}
        for n in names:
            if not (a[n]["ok"] and b[n]["ok"]):
                raise run.BenchError(f"{n} failed while recording: {a[n].get('err') or b[n].get('err')}")
            entry = {"rows": a[n]["rows"]}
            same = a[n]["fp"] == b[n]["fp"]
            if n in oracle:
                entry["parity"] = verdict.get(n, "FAIL").lower()
            if same and entry.get("parity") == "pass":
                entry["fp"] = a[n]["fp"]
            elif same:
                entry["order_fp"] = a[n]["fp"]
            if not same:
                disagree.append(n)
            expected[n] = entry
        for r in first:
            if r["type"] == "op" and r["ok"]:
                w["queries"][r["name"]] = round((r["t1"] - r["t0"]) / 1e6, 3)
        print(f"{wname}: {len(names)} queries, parity "
              f"{sum(1 for n in names if expected[n].get('parity') == 'pass')} pass / "
              f"{sum(1 for n in names if expected[n].get('parity') == 'fail')} fail, "
              f"{sum(1 for n in names if n not in oracle)} without oracle")
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    with open(os.path.join(run.HERE, "workloads.json"), "w") as f:
        json.dump(workloads, f, indent=1)
        f.write("\n")
    if disagree:
        print("fingerprints differ between the two orders: " + ", ".join(disagree))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
