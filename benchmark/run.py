#!/usr/bin/env python3
"""Benchmark of the GBIF filter job (CSV in to CSV out) and of the
operator library's gates.

  python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness (benchmark/build.py), generates the
workload's inputs from the seed (benchmark/gen.py for the GBIF workloads,
benchmark/opsgen.py for the operator workload), then drives the program
in a fresh JVM (benchmark/harness), a closed loop with one client. Every
GBIF job's CSV output is checked against a DuckDB replay of the job
(benchmark/replay.py) before the next job starts; every gate's output is
checked once per run against the DuckDB replay of its oracle SQL.

Untraced (--trace 0) prints the end-to-end metrics, traced (--trace 1)
the per-layer ones; see benchmark/README.md. The last line of standard
output is the result as one JSON object. The full run record goes to
.bench_out/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import duckdb
import pandas as pd

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import opsgen  # noqa: E402
import replay  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HEAP = "2g"
DEADLINE_S = 170     # a run ends within 180 s once built
FAMILIES = ["dedup", "text", "sketch", "sim", "graph", "streaming", "ops", "multimodal"]
ADD_OPENS = [  # what spark-submit passes on JDK 17 (see build.sbt)
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# layer -> (span, upstream exec spans its exec re-runs); see README "Self time"
LAYERS = [
    ("sources.read_s", "sources.read", []),
    ("taxonomy.resolve_s", "taxonomy.resolve", ["sources.read"]),
    ("geo.zone_scan_s", "geo.zone_scan", []),
    ("occurrence.inzone_keys_s", "occurrence.inzone_keys", ["geo.zone_scan"]),
    ("occurrence.tag_s", "occurrence.tag", ["taxonomy.resolve", "occurrence.inzone_keys"]),
    ("rank.children_s", "rank.children", []),
    ("shaper.shape_s", "shaper.shape", None),  # upstream: rank.children or occurrence.tag
    ("sources.write_s", "sources.write", ["shaper.shape"]),
]
# per-layer metrics of one kind of workload, reported as 0 on the other
GBIF_LAYER_METRICS = {m: "s" for m, _, _ in LAYERS} | {
    "sources.read_rows": "rows", "sources.write_bytes": "bytes",
    "occurrence.rows_read_per_job": "ratio",
    "job.build_s": "s", "job.plan_s": "s", "job.exec_s": "s"}
FAMILY_METRICS = {f"{f}.{m}": u for f in FAMILIES for m, u in [
    ("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
    ("jobs", "count"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")]}


def fail(msg: str):
    print(f"run: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, and its
    value (linear interpolation between order statistics)."""
    s = sorted(xs)
    n = len(s)
    p = max(0.0, 1.0 - 10.0 / n) if n > 10 else 1.0
    pos = p * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return 100.0 * p, s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Checker:
    """Compares each job's CSV output with the replay: header, row count
    and an order-independent hash of every row, per job; plus, once per
    run, the full canonical frames (check_oracle.canon)."""

    def __init__(self, con, canon):
        self.con = con
        self.canon = canon
        self.expected = replay.digest(con, "expected")
        self.framed = False
        self.seconds = 0.0

    def __call__(self, out_dir: str):
        t = time.monotonic()
        try:
            got = replay.digest(self.con, replay.spark_csv(out_dir))
            if got != self.expected:
                return f"digest {got[1:]} != expected {self.expected[1:]} " \
                       f"(columns equal: {got[0] == self.expected[0]})"
            if not self.framed:
                self.framed = True
                return self.full_compare(out_dir)
            return None
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            return f"{type(e).__name__}: {e}"
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            self.seconds += time.monotonic() - t

    def full_compare(self, out_dir: str):
        parts = sorted(p for p in os.listdir(out_dir) if p.startswith("part-"))
        got = pd.concat([pd.read_csv(os.path.join(out_dir, p), dtype=str,
                                     keep_default_na=False, na_values=["NA"])
                         for p in parts if os.path.getsize(os.path.join(out_dir, p))],
                        ignore_index=True)
        a = self.canon(got)
        b = self.canon(self.con.execute("SELECT * FROM expected").df())
        if list(a.columns) != list(b.columns) or not a.equals(b):
            return "canonical frames differ"
        return None


def run_jvm(cmd, log, deadline, checker):
    """Runs one harness process (GbifBench or OpsBench: `@@ready`, then
    `@@job`/`@@error` lines that wait for a reply, then `@@done`); returns
    (set-up seconds, per-job verdicts, exit code). Each job is checked
    before the harness is told to go on."""
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=log, text=True, bufsize=1)
    timer = threading.Timer(max(1.0, deadline - t0), proc.kill)
    timer.start()
    setup = None
    verdicts = []
    try:
        for line in proc.stdout:
            if not line.startswith("@@"):
                continue
            msg = line[2:].rstrip("\n").split(" ", 3)
            if msg[0] == "ready":
                setup = time.monotonic() - t0
            elif msg[0] in ("job", "error"):
                why = checker(msg[3]) if msg[0] == "job" else "job threw: " + msg[-1]
                verdicts.append(why)
                proc.stdin.write(("ok" if why is None else "fail") + "\n")
                proc.stdin.flush()
            elif msg[0] == "done":
                break
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        timer.cancel()
    return setup, verdicts, proc.returncode


def spark_metrics(totals, n, wall, cores):
    """The listener's totals over the traced operations, per operation."""
    get = lambda k: totals.get(k, 0) / max(1, n)  # noqa: E731
    return {
        "spark.jobs": (get("jobs"), "count"),
        "spark.tasks": (get("tasks"), "count"),
        "spark.input_bytes": (get("input_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (get("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (get("spill_bytes"), "bytes"),
        "spark.task_run_s": (get("task_run_ms") / 1000.0, "s"),
        "spark.gc_s": (get("gc_ms") / 1000.0, "s"),
        "spark.core_idle_frac": (
            1.0 - totals.get("task_run_ms", 0) / 1000.0 / max(1e-9, wall * cores), "ratio"),
    }


def sum_totals(listener, keep):
    tot = {}
    for span, t in listener.items():
        if keep(span):
            for k, v in t.items():
                tot[k] = tot.get(k, 0) + v
    return tot


# ---- GBIF workloads ----------------------------------------------------

def gbif_end_to_end(record, setup, props):
    times = [j["s"] for j in record["jobs"]]
    pct, tail_s = tail(times)
    rows = props["rows"]["taxa"]
    return {
        "job_s_p50": (median(times), "s"),
        "rows_per_s": (len(times) * rows / sum(times), "rows/s"),
        "setup_s": (setup, "s"),
        "alloc_mb_per_op": (record["alloc_bytes_timed"] / 1048576.0 / len(times), "MB"),
    }, {"peak_rss_mb": record["vm_hwm_kb"] / 1024.0, "jobs": len(times),
        "job_s_tail": tail_s, "job_s_tail_percentile": pct,
        "job_s_tail_note": "fewer than 11 jobs: no percentile has ten samples beyond "
                           "it, the value is the slowest job" if len(times) < 11 else ""}


def gbif_per_layer(record, spec, props):
    by_id = {}
    for s in record["spans"]:
        name, kind = s["name"].rsplit("/", 1)
        by_id.setdefault(s["id"], {}).setdefault(name, {})[kind] = s["end_s"] - s["start_s"]
    layer_ids = [i for i, d in by_id.items() if "sources.write" in d]
    job_ids = [i for i, d in by_id.items() if "job" in d]
    ranked = bool(spec["resolve_to_rank"])

    def exec_s(d, name):
        return d.get(name, {}).get("exec", 0.0)

    metrics = {}
    self_total = 0.0
    for metric, name, upstream in LAYERS:
        if upstream is None:
            upstream = ["rank.children" if ranked else "occurrence.tag"]
        selfs = [d[name].get("build", 0.0) + d[name]["exec"] -
                 sum(exec_s(d, u) for u in upstream)
                 for d in (by_id[i] for i in layer_ids) if name in d]
        value = median(selfs)
        self_total += value
        metrics[metric] = (value, "s")
    for kind in ("build", "plan", "exec"):
        metrics[f"job.{kind}_s"] = (median([by_id[i]["job"][kind] for i in job_ids]), "s")
    scans = record["scan_rows"]
    metrics["sources.read_rows"] = (scans.get("taxa.csv", 0), "rows")
    metrics["sources.write_bytes"] = (record["write_bytes"], "bytes")
    metrics["occurrence.rows_read_per_job"] = (
        scans.get("occurrence.parquet", 0) / props["rows"]["occurrence"], "ratio")

    # Spark work of the split jobs (job/build, job/plan, job/exec spans)
    wall = sum(sum(by_id[i]["job"].values()) for i in job_ids)
    metrics.update(spark_metrics(sum_totals(record["listener"], lambda s: s.startswith("job/")),
                                 len(job_ids), wall, record["cores"]))
    metrics.update({m: (0, u) for m, u in FAMILY_METRICS.items()})
    plain = median([j["s"] for j in record["jobs"] if j["kind"] == "job"])
    traced = median([j["s"] for j in record["jobs"] if j["kind"] == "traced"])
    metrics["trace.coverage"] = (self_total / plain, "ratio")
    metrics["trace.overhead"] = (traced / plain, "ratio")
    notes = {"rank_layer": "used" if ranked else "bypassed: no resolve_to_rank, rank.* are 0",
             "layer_iterations": len(layer_ids), "plain_jobs": len(record["jobs"]) - len(job_ids)}
    return metrics, notes


def run_gbif(a, spec, work, log, deadline, jvm, canon):
    """Generates, replays and runs one GBIF workload. Returns (harness
    record, set-up seconds, per-job verdicts, input properties, seconds
    spent generating and replaying, metrics, notes), or None if the harness
    failed."""
    t = time.monotonic()
    data = os.path.join(work, "data")
    props, con = gen.generate(a.workload, a.seed, data)
    props["layer_counts"] = replay.layer_counts(con, spec)
    checker = Checker(con, canon)
    gen_s = time.monotonic() - t
    result = f"{work}/record.json"
    setup, verdicts, code = run_jvm(
        jvm("graftbench.GbifBench", f"data={data}", f"tag={str(spec['tag']).lower()}",
            f"result={result}"), log, deadline, checker)
    con.close()
    if setup is None or code != 0 or not os.path.exists(result):
        return None
    record = json.load(open(result))
    record["check_s"] = checker.seconds
    if a.trace:
        metrics, notes = gbif_per_layer(record, spec, props)
    else:
        metrics, notes = gbif_end_to_end(record, setup, props)
    return record, setup, verdicts, props, gen_s, metrics, notes


# ---- operator workload -------------------------------------------------

def check_gates(data, check_dir, gates, canon):
    """Each gate's output against the DuckDB replay of its oracle SQL,
    compared as tools/check_oracle.py compares them: canonical frames with
    the same columns and the same rows."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings", "events", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    verdicts = {}
    for gate in gates:
        try:
            files = sorted(glob.glob(os.path.join(check_dir, gate, "*.parquet")))
            if not files:
                verdicts[gate] = "no output"
                continue
            got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            want = canon(con.execute(oracle[gate]).df())
            if list(got.columns) != list(want.columns):
                verdicts[gate] = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(got) != len(want) or not got.equals(want):
                verdicts[gate] = f"rows differ ({len(got)} vs {len(want)} rows)"
            else:
                verdicts[gate] = None
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            verdicts[gate] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return verdicts


def ops_end_to_end(record, setup, props):
    times = [p["s"] for p in record["passes"]]
    rows = sum(props["rows"].values())
    return {
        "job_s_p50": (median(times), "s"),
        "rows_per_s": (len(times) * rows / sum(times), "rows/s"),
        "setup_s": (setup, "s"),
        "alloc_mb_per_op": (record["alloc_bytes_timed"] / 1048576.0 / len(times), "MB"),
    }, {"peak_rss_mb": record["vm_hwm_kb"] / 1024.0, "passes": len(times)}


def ops_per_layer(record):
    traced = [p for p in record["passes"] if p["kind"] == "traced"]
    plain = median([p["s"] for p in record["passes"] if p["kind"] == "pass"])
    n = len(traced)
    listener = record["listener"]
    metrics = {m: (0, u) for m, u in GBIF_LAYER_METRICS.items()}
    self_total = 0.0
    for f in FAMILIES:
        for kind in ("build", "plan", "exec"):
            value = median([sum(g[kind] for g in p["gates"] if g["family"] == f) for p in traced])
            self_total += value
            metrics[f"{f}.{kind}_s"] = (value, "s")
        fam = sum_totals(listener, lambda s, f=f: s.startswith(f + "/"))
        built = listener.get(f"{f}/build", {})
        metrics[f"{f}.build_jobs"] = (
            (built.get("jobs", 0) - built.get("schema_jobs", 0)) / n, "count")
        metrics[f"{f}.jobs"] = (fam.get("jobs", 0) / n, "count")
        metrics[f"{f}.shuffle_write_bytes"] = (fam.get("shuffle_write_bytes", 0) / n, "bytes")
        metrics[f"{f}.spill_bytes"] = (fam.get("spill_bytes", 0) / n, "bytes")
    wall = sum(p["s"] for p in traced)
    metrics.update(spark_metrics(sum_totals(listener, lambda s: s.split("/")[0] in FAMILIES),
                                 n, wall, record["cores"]))
    metrics["trace.coverage"] = (self_total / plain, "ratio")
    metrics["trace.overhead"] = (median([p["s"] for p in traced]) / plain, "ratio")
    return metrics, {"traced_passes": n, "plain_passes": len(record["passes"]) - n,
                     "unattributed_spark": listener.get("unattributed", {})}


def run_ops(a, spec, work, log, deadline, jvm, canon):
    """Generates and runs the operator workload, then checks the gates'
    outputs; returns what run_gbif returns."""
    t = time.monotonic()
    data = os.path.join(work, "data")
    props = opsgen.generate(a.seed, data)
    gen_s = time.monotonic() - t
    result = f"{work}/record.json"
    gates = spec["gates"]
    setup, _, code = run_jvm(
        jvm("graftbench.OpsBench", f"data={data}",
            "gates=" + ",".join(f"{g}:{f}" for g, f in gates.items()),
            f"result={result}"), log, deadline, None)
    if setup is None or code != 0 or not os.path.exists(result):
        return None
    record = json.load(open(result))
    t = time.monotonic()
    checks = check_gates(data, os.path.join(work, "out", "check"), gates, canon)
    record["check_s"] = time.monotonic() - t
    record["checks"] = checks
    # one verdict per timed gate run, then one per checked gate
    verdicts = [g["error"] and f"{g['gate']} threw: {g['error']}"
                for p in record["passes"] for g in p["gates"]]
    verdicts += [v and f"{g} check: {v}" for g, v in checks.items()]
    if a.trace:
        metrics, notes = ops_per_layer(record)
    else:
        metrics, notes = ops_end_to_end(record, setup, props)
    return record, setup, verdicts, props, gen_s, metrics, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.monotonic()

    check_oracle = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/GbifFilterJob.scala")) \
            or not os.path.exists(check_oracle):
        fail("not a checkout of the program: src/main/scala and tools/check_oracle.py are needed")
    sys.path.insert(0, os.path.dirname(check_oracle))
    from check_oracle import canon

    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    spec = WORKLOADS[a.workload]

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_root = os.path.join(ROOT, ".bench_out")
    work = os.path.join(out_root, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(out_root, tag + ".log")
    with open(log_path, "w") as log:
        classpath = build.build(log=log)
        deadline = time.monotonic() + DEADLINE_S
        cores = len(os.sched_getaffinity(0))
        base = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"] + \
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
            ["-cp", classpath]
        args = [f"out={work}/out", f"localDir={work}/tmp", f"cores={cores}",
                f"mode={'trace' if a.trace else 'measure'}", f"seconds={a.seconds}"]
        runner = run_gbif if spec["kind"] == "gbif" else run_ops
        done = runner(a, spec, work, log, deadline,
                      lambda main, *extra: base + [main] + args + list(extra), canon)
    if done is None:
        fail(f"harness failed; see {log_path}")
    record, setup, verdicts, props, gen_s, metrics, notes = done

    failed = sum(v is not None for v in verdicts)
    attempted = len(verdicts)
    reported = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    full = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "cores": record["cores"], "max_heap_mb": record["max_heap_mb"],
        "generate_s": gen_s, "setup_s": setup, "session_s": record["session_s"],
        "fail_frac": failed / max(1, attempted),
        "failures": [v for v in verdicts if v][:5], "input_properties": props,
        "notes": notes, "metrics": reported, "check_s": record["check_s"],
        "wall_s": time.monotonic() - start, "harness_record": record,
    }
    with open(os.path.join(out_root, tag + ".json"), "w") as f:
        json.dump(full, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(f"workload {a.workload} seed {a.seed}: {json.dumps(props, sort_keys=True)}")
    for k, (v, u) in metrics.items():
        print(f"{k:32s} {v:14.6g} {u}")
    print(f"{'fail_frac':32s} {full['fail_frac']:14.6g} ratio")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": reported}))


if __name__ == "__main__":
    main()
