#!/usr/bin/env python3
"""The engine's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The input tables are the engine's
sf0.01 test tables, shipped in perfbench/data/sf0.01; the lakehouse slices
are cut from them into perfbench/.work/slices. It builds the engine with
the harness (perfbench/build.sbt, cached by source hash), then runs one JVM
with local[N] (N = usable cpus, at most 4) and one closed-loop client:

  1. set-up, counted from JVM start: a SparkSession, every table resolved
     and one warm-up query;
  2. an untimed check pass: every query the run will time, and a few the
     seed picks, are fingerprinted and compared with perfbench/expected.json;
  3. the timed operations, in seeded order.

With --trace 1 the timed operations run twice, alternately untraced and
traced, so each runs once each way; the traced ones record per-layer spans
and counters (see BENCHMARK.json) and the kernel and table-resolution
probes run after them. Per-operation spans are written to
perfbench/.work/runs/. The last line of stdout is the result JSON; the
lines before it carry the environment and the details (sample counts,
failures, lakehouse-only metrics).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, HERE)
import stats  # noqa: E402

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
N_SLICES = 16
SLICE_KEYS = {"lineitem": "l_orderkey", "events": "event_id"}
JVM_FLAGS = ["-Xmx4g", "-XX:+UseParallelGC"]
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_p95_s": "s",
              "ops_per_s": "1/s", "retained_heap_mb": "MB"}
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


# ---- inputs and build ------------------------------------------------------

def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            h.update(open(top, "rb").read())
            continue
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", ".work", "project"))
            for fn in sorted(filenames):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def slice_dir(table, k):
    return os.path.join(WORK, "slices", table, f"s{k:02d}")


def cut_slices():
    """Cuts lineitem and events into N_SLICES slices by key modulo
    N_SLICES, once per checkout; the lakehouse workload writes from them.
    Each slice directory is a table directory, so the engine reads a slice
    through Tables.t like any other table."""
    root = os.path.join(WORK, "slices")
    stamp = os.path.join(root, ".stamp")
    want = tree_hash([os.path.join(DATA, f"{t}.parquet") for t in SLICE_KEYS])
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    shutil.rmtree(root, ignore_errors=True)
    for table, key in SLICE_KEYS.items():
        t = pq.read_table(os.path.join(DATA, f"{table}.parquet"))
        mod = t.column(key).to_numpy() % N_SLICES
        for k in range(N_SLICES):
            os.makedirs(slice_dir(table, k))
            pq.write_table(t.filter(pa.array(mod == k)),
                           os.path.join(slice_dir(table, k), f"{table}.parquet"))
    with open(stamp, "w") as f:
        f.write(want)


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                       os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")])
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath")
    if os.path.exists(cp_file) and open(os.path.join(bdir, "stamp")).read() == stamp:
        return open(cp_file).read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        raise BenchError(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(os.path.join(bdir, "stamp"), "w") as f:
        f.write(stamp)
    return cp


def source_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip(), "git"
    except (OSError, subprocess.SubprocessError):
        pass
    # a plain checkout: hash what the benchmark builds instead
    return tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")])[:40], "tree"


# ---- plans -----------------------------------------------------------------

def query_plan(w, rng, seconds, trace):
    """The median-cost query of each stratum of similar calibrated cost is
    timed, so every run times the same queries; the seed orders each timed
    pass. The check pass fingerprints the timed queries and `extra_checks`
    more that the seed picks from the rest, so over seeds every query's
    result is checked. After the check pass, one untimed warm pass runs the
    timed queries again, so their generated code is past its first
    executions; then the timed passes run them."""
    picks = stats.representatives(
        stats.strata(w["queries"], w["strata_size"], w["strata_ratio"]))
    est = sum(w["queries"][n] for n in picks)
    # a traced run runs each operation twice, so it has half the passes
    passes = max(1, round(seconds / est / (2 if trace else 1)))
    data = DATA
    extra = rng.sample(sorted(set(w["queries"]) - set(picks)), w["extra_checks"])
    checks = [("check", f"c{i:03d}", n, data) for i, n in enumerate(sorted(picks) + sorted(extra))]
    warm = [("op", "w", f"w.{i:03d}", "query", n, data) for i, n in enumerate(picks)]
    seq = []
    for p in range(passes):
        order = picks[:]
        rng.shuffle(order)
        seq += [(f"p{p}.{i:03d}", "query", n, data) for i, n in enumerate(order)]
    if trace:
        ops = [("op", traced_mode(i, 0), "a" + o[0]) + o[1:] for i, o in enumerate(seq)]
        ops += [("op", traced_mode(i, 1), "b" + o[0]) + o[1:] for i, o in enumerate(seq)]
        ops += probe_ops(rng)
    else:
        ops = [("op", "u") + o for o in seq]
    return checks, warm + ops, {"picks": picks, "extra_checks": extra, "passes": passes}


def traced_mode(i, sweep):
    """A traced run repeats the operations twice, alternating traced and
    untraced ones so that each operation runs once each way and neither
    mode gets the warmer positions."""
    return "t" if (i + sweep) % 2 else "u"


LAKE_MAX_RECORDS = 1000  # rows per file of a sized rewrite


def probe_ops(rng):
    """Traced-only: one slice written and committed, so the sinks and
    snapshots layers are measured on workloads that do not write."""
    root = os.path.join(WORK, "scratch", "probe")
    shutil.rmtree(root, ignore_errors=True)
    k = rng.randrange(N_SLICES)
    sink, table = os.path.join(root, "sink"), os.path.join(root, "table")
    return [("op", "t", "probe.0", "rewrite", slice_dir("lineitem", k), sink,
             str(LAKE_MAX_RECORDS)),
            ("op", "t", "probe.1", "commit", slice_dir("events", k), table)]


def lake_plan(w, rng, seconds, trace):
    """Rounds of: rewrite a lineitem slice and re-read it; commit an events
    slice and read the snapshot (compacting every k-th commit); one layout
    query. The seed picks the slices and orders the three blocks."""
    data = DATA
    rounds = max(2, round(seconds / w["round_cost_s"] / (2 if trace else 1)))
    qnames = sorted(w["queries"])
    checks = [("check", f"c{i:03d}", n, data) for i, n in enumerate(qnames)]
    first_q = rng.randrange(len(qnames))
    line_slices = rng.sample(range(N_SLICES), N_SLICES)
    event_slices = rng.sample(range(N_SLICES), N_SLICES)
    orders = [rng.sample(range(3), 3) for _ in range(rounds)]

    def seq(sweep):
        root = os.path.join(WORK, "scratch", f"lake-{sweep}")
        shutil.rmtree(root, ignore_errors=True)
        sink, table = os.path.join(root, "sink"), os.path.join(root, "table")
        out, expect, committed = [], {}, []
        for r in range(rounds):
            ls = line_slices[r % N_SLICES]
            es = event_slices[r % N_SLICES]
            committed.append(es)
            snapshot = [("commit", slice_dir("events", es), table), ("snapread", table)]
            if (r + 1) % w["compact_every"] == 0:
                snapshot += [("compact", table, "2"), ("snapread", table)]
            blocks = [[("rewrite", slice_dir("lineitem", ls), sink,
                        str(LAKE_MAX_RECORDS)), ("reread", sink)],
                      snapshot,
                      [("query", qnames[(first_q + r) % len(qnames)], data)]]
            for b in orders[r]:
                for op in blocks[b]:
                    oid = f"{sweep}r{r:02d}.{len(out):03d}"
                    mode = traced_mode(len(out), sweep) if trace else "u"
                    if op[0] == "reread":
                        expect[oid] = ("lineitem", [ls])
                    elif op[0] == "snapread":
                        expect[oid] = ("events", list(committed))
                    out.append(("op", mode, oid) + op)
        return out, expect, [sink, table]

    ops, expect, roots = seq(0)
    if trace:
        more, more_expect, _ = seq(1)
        ops += more
        expect.update(more_expect)
    info = {"rounds": rounds, "expect": expect, "roots": roots,
            "line_slices": [line_slices[r % N_SLICES] for r in range(rounds)],
            "event_slices": [event_slices[r % N_SLICES] for r in range(rounds)]}
    return checks, ops, info


def slice_stats(table, slices):
    """Row count and exact sums of what the lakehouse check reads back."""
    rows, a, b = 0, 0, 0
    for k in slices:
        t = pq.read_table(os.path.join(slice_dir(table, k), f"{table}.parquet"))
        if table == "lineitem":
            xa, xb, sa, sb = "l_quantity", "l_extendedprice", 2, 2
        else:
            xa, xb, sa, sb = "value", "event_id", 2, 0
        rows += t.num_rows
        a += sum(round(x * 10 ** sa) for x in t.column(xa).to_pylist())
        b += sum(round(x * 10 ** sb) for x in t.column(xb).to_pylist())
    return rows, Decimal(a).scaleb(-sa), Decimal(b).scaleb(-sb)


def slice_bytes(table, slices):
    return sum(os.path.getsize(os.path.join(slice_dir(table, k), f"{table}.parquet"))
               for k in slices)


def dir_bytes(path):
    total = 0
    for dirpath, _, filenames in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return total


# ---- running ---------------------------------------------------------------

def run_jvm(cp, plan_lines, tag, timeout=JVM_TIMEOUT_S):
    rdir = os.path.join(WORK, "runs")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(rdir, exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    plan = os.path.join(rdir, f"{tag}.plan.tsv")
    out = os.path.join(rdir, f"{tag}.records.jsonl")
    log = os.path.join(rdir, f"{tag}.jvm.log")
    with open(plan, "w") as f:
        f.write("\n".join("\t".join(str(x) for x in l) for l in plan_lines) + "\n")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_FLAGS
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness", plan, out]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"harness exceeded {timeout}s; see {log}")
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"harness exited {rc}; see {log}")
    with open(out) as f:
        return [json.loads(l) for l in f if l.strip()]


def coverage_problems(workloads, registry):
    declared = set(registry["names"])
    named = {}
    for wname, w in workloads.items():
        for q in w["queries"]:
            named.setdefault(q, []).append(wname)
    problems = [f"workload {','.join(ws)} names {q}, which the Registry does not declare"
                for q, ws in sorted(named.items()) if q not in declared]
    problems += [f"Registry declares {q}, which no workload covers"
                 for q in sorted(declared - set(named))]
    problems += [f"{q} is named by more than one workload: {','.join(ws)}"
                 for q, ws in sorted(named.items()) if len(ws) > 1]
    return problems


def layer_metrics(recs, cpus_n, ops_u, ops_t):
    """Per-layer metrics of the traced pass: per-operation means (so layer
    self times keep adding up to the mean wall), the busy ratio over the
    whole pass, and the probes."""
    traced = [o for o in ops_t if not o["id"].startswith("probe")]
    probe = [o for o in ops_t if o["id"].startswith("probe")]
    per_op = []
    for o in traced:
        t0, t1 = o["w0"] / 1e6, o["w1"] / 1e6
        # what tracing adds before and after the operation is its own layer
        spans = [(n, s / 1e6, e / 1e6) for n, s, e in o["spans"]] + [
            ("trace", t0, o["t0"] / 1e6), ("trace", o["t1"] / 1e6, t1)]
        selfs = stats.self_times(t0, t1, spans)
        if abs(sum(selfs.values()) - (t1 - t0)) > 1e-6:
            raise BenchError(f"self times of {o['id']} do not add up to its wall")
        build = [(s, e) for n, s, e in spans if n == "queries.build"]
        jobs = [(s, e) for n, s, e in spans if n == "exec.job"]
        in_build = [j for j in jobs if any(bs <= j[0] <= be for bs, be in build)]
        dur = lambda name: sum(e - s for n, s, e in spans if n == name)
        c = o["ctr"]
        per_op.append({
            "id": o["id"], "name": o["name"], "wall_s": t1 - t0, "self_s": selfs,
            "queries.build_s": dur("queries.build"),
            "queries.build_self_s": sum(be - bs - stats.union_length(jobs, bs, be)
                                        for bs, be in build),
            "queries.build_jobs": len(in_build),
            "catalyst.analysis_s": dur("catalyst.analysis"),
            "catalyst.optimization_s": dur("catalyst.optimization"),
            "catalyst.planning_s": dur("catalyst.planning"),
            "exec.sink_s": dur("exec.sink"), "exec.jobs": c["jobs"],
            "exec.stages": c["stages"], "exec.tasks": c["tasks"], "exec.task_s": c["task_s"],
            "exec.job_wall_s": stats.union_length(jobs),
            "shuffle.write_bytes": c["shuffle_write_bytes"],
            "shuffle.read_bytes": c["shuffle_read_bytes"],
            "shuffle.spill_bytes": c["spill_bytes"],
            "pins.resident_bytes_after_op": c["pin_bytes"],
            "pins.rdds_after_op": c["pin_rdds"], "jvm.gc_s": c["gc_s"],
        })
    mean = lambda k: statistics.mean(p[k] for p in per_op)
    m = {k: mean(k) for k in per_op[0] if k not in ("id", "name", "wall_s", "self_s",
                                                   "exec.job_wall_s")}
    job_wall = sum(p["exec.job_wall_s"] for p in per_op)
    m["exec.slot_busy_ratio"] = (sum(p["exec.task_s"] for p in per_op) / (job_wall * cpus_n)
                                 if job_wall > 0 else 0.0)
    resolve = [r for r in recs if r["type"] == "resolve"][0]["ms"]
    m["tables.resolve_ms"] = statistics.median(resolve)
    for k in recs:
        if k["type"] == "kernel":
            m[k["name"]] = k["ns"]
    writes = [o for o in (probe or ops_t) if o["kind"] == "rewrite" and o["ok"]]
    commits = [o for o in (probe or ops_t) if o["kind"] in ("commit", "compact") and o["ok"]]
    span_s = lambda o, name: sum(e - s for n, s, e in o["spans"] if n == name) / 1e6
    m["sinks.write_s"] = statistics.mean(span_s(o, "sinks.write") for o in writes)
    m["sinks.files_written"] = statistics.mean(o["vals"]["files_written"] for o in writes)
    m["sinks.bytes_written"] = statistics.mean(o["vals"]["bytes_written"] for o in writes)
    m["snapshots.commit_s"] = statistics.mean(span_s(o, "snapshots.commit") for o in commits)
    m["snapshots.manifest_entries"] = statistics.mean(
        o["vals"]["manifest_entries"] for o in commits)
    # each operation ran once traced and once untraced; compare their rates
    # over the walls that include the tracer's own calls
    ops_per_s = lambda ops: len(ops) / sum(o["w1"] - o["w0"] for o in ops)
    m["trace.overhead_ratio"] = ops_per_s(traced) / ops_per_s(ops_u)
    return m, per_op


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError(f"no engine sources under {ROOT}/src/main/scala; "
                         "run from the root of a source checkout")
    workloads = load("workloads.json")
    if a.workload not in workloads:
        raise BenchError(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    w = workloads[a.workload]
    expected = load("expected.json")
    rng = random.Random(a.seed)
    n_cpus = cpus()
    cut_slices()
    cp = build()

    planner = lake_plan if w["kind"] == "lakehouse" else query_plan
    checks, ops, info = planner(w, rng, a.seconds, a.trace)
    conf = [("conf", "cpus", n_cpus), ("conf", "work", WORK), ("conf", "data", DATA),
            ("conf", "trace", a.trace)]
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    recs = run_jvm(cp, conf + checks + ops, tag)

    registry = [r for r in recs if r["type"] == "registry"][0]
    problems = coverage_problems(workloads, registry)
    if problems:
        raise BenchError("workload coverage drifted from the Registry:\n  " +
                         "\n  ".join(problems))

    # correctness: fingerprints, lakehouse read-backs, kernel equality
    observed = {r["name"]: r for r in recs if r["type"] == "check"}
    failures = stats.fingerprint_problems(expected, observed)
    all_ops = [r for r in recs if r["type"] == "op"]
    for o in all_ops:
        if not o["ok"]:
            failures.append(f"{o['id']} {o['name']}: {o['err']}")
    for oid, (table, slices) in info.get("expect", {}).items():
        o = next(x for x in all_ops if x["id"] == oid)
        if o["ok"]:
            rows, sa, sb = slice_stats(table, slices)
            got = (o["vals"]["rows"], Decimal(o["vals"]["sum_a"]), Decimal(o["vals"]["sum_b"]))
            if got != (rows, sa, sb):
                failures.append(f"{oid} {o['name']}: read back {got}, wrote {(rows, sa, sb)}")
    for k in recs:
        if k["type"] == "kernel" and not k["ok"]:
            failures.append(f"{k['name']}: {k['err']}")
    attempted = len(observed) + len(all_ops) + sum(1 for k in recs if k["type"] == "kernel")
    failed = len(failures)

    ops_u = [o for o in all_ops if o["mode"] == "u"]
    lat = [(o["t1"] - o["t0"]) / 1e6 for o in ops_u]
    t = stats.tail(lat)
    wall = (max(o["t1"] for o in ops_u) - min(o["t0"] for o in ops_u)) / 1e6
    setup = [r for r in recs if r["type"] == "setup"][0]["s"]
    heap = [r for r in recs if r["type"] == "end"][0]["heap_mb"]
    e2e = {"setup_s": setup, "op_p50_s": t["p50"], "op_p95_s": t["p95"],
           "ops_per_s": sum(1 for o in ops_u if o["ok"]) / wall, "retained_heap_mb": heap}
    extra = {"failed_ratio": (stats.failed_ratio(attempted, failed), "ratio")}
    if w["kind"] == "lakehouse":
        commits = [(o["t1"] - o["t0"]) / 1e6 for o in ops_u if o["kind"] in ("commit", "compact")]
        rereads = [(o["t1"] - o["t0"]) / 1e6 for o in ops_u if o["kind"] == "reread"]
        stored = sum(dir_bytes(r) for r in info["roots"])
        written = (slice_bytes("lineitem", info["line_slices"]) +
                   slice_bytes("events", info["event_slices"]))
        extra.update({"commit_p50_s": (statistics.median(commits), "s"),
                      "reread_p50_s": (statistics.median(rereads), "s"),
                      "stored_bytes_per_input_byte": (stored / written, "ratio")})

    sha, sha_kind = source_sha()
    env = {"nproc": os.cpu_count(), "N": n_cpus, "shuffle_partitions": n_cpus}
    env.update({k: v for r in recs if r["type"] == "env" for k, v in r.items() if k != "type"})
    env.update({"source_sha": sha, "source_sha_kind": sha_kind,
                "sf_dir": os.path.relpath(DATA, ROOT),
                "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace})
    print(json.dumps({"env": env}))
    detail = {"op_samples": t["n"], "op_samples_above_p95": t["above_p95"],
              "p95_tail_rule_met": t["tail_ok"],
              "timed_wall_s": wall, "attempted": attempted, "failed": failed,
              "failures": failures[:20]}
    detail.update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})
    detail["plan"] = {k: v for k, v in info.items() if k not in ("expect", "roots")}
    print(json.dumps({"detail": detail}))

    if a.trace:
        ops_t = [o for o in all_ops if o["mode"] == "t"]
        layers, per_op = layer_metrics(recs, n_cpus, ops_u, ops_t)
        spec = load_benchmark_spec()
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        with open(os.path.join(WORK, "runs", f"{tag}.trace.jsonl"), "w") as f:
            for p in per_op:
                f.write(json.dumps(p) + "\n")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def load_benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
