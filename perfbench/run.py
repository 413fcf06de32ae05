#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload hydro_feed --seed 1 --seconds 8 --trace 0

Builds graft and the harness from the enclosing checkout (sbt, only when
a source changed), generates the query tables once, runs one benchmark
JVM (perfbench.Main), checks its outputs, and prints the metrics. The
last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ("hydro_feed", "curation_loops")
# Query tables: fixed scale and seed, so every run and every seed reads
# the same inputs and the structural counts repeat; --seed orders the ops.
TABLE_SCALE = 0.01
TABLE_SEED = 20240101
# fixed heap and young generation, so resident memory does not follow
# the collector's adaptive sizing from run to run
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn384m"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    if "SPARK_HOME" not in os.environ:
        raise RuntimeError("SPARK_HOME must point at the Spark installation")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def source_stamp():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile graft + harness with sbt unless the classes match the sources."""
    classes = os.path.join(HERE, "target/scala-2.13/classes")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    log("building graft and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    res = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.forcestart=false", "compile"],
                    cwd=HERE, env=env, timeout=deadline - time.time(),
                    out_path=os.path.join(WORK, "build.log"))
    if res != 0 or not os.path.isdir(classes):
        raise RuntimeError(f"sbt build failed ({res}); see {WORK}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_child(cmd, cwd, env, timeout, out_path):
    """Run a child in its own process group; kill the group on timeout
    and always wait for it."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"{cmd[0]} exceeded {timeout:.0f} s; see {out_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def ensure_tables():
    import gen_tables
    d = os.path.join(WORK, f"tables-{TABLE_SCALE}-{TABLE_SEED}-v{gen_tables.VERSION}")
    if not os.path.isdir(d):
        log(f"generating query tables at scale {TABLE_SCALE}")
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        gen_tables.write(d, TABLE_SCALE, TABLE_SEED)
    return d


def table_rows(data_dir):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in QUERY_TABLES}


# ---------------------------------------------------------------------------
# metrics


def dur_s(span, a="start_ms", b="end_ms"):
    return (span[b] - span[a]) / 1e3


def union_s(intervals_ms):
    return stats.interval_union(intervals_ms) / 1e3 if intervals_ms else 0.0


def end_to_end(doc, launch_s, checks, rows_per_pass):
    passes = [p for p in doc["passes"] if p["role"] == "timed"]
    ids = {p["pass"] for p in passes}
    ops = [o for o in doc["ops"] if o["pass"] in ids]
    wall = stats.median([dur_s(p) for p in passes])
    attempted, failed = attempts(doc)
    return {
        "setup_s": (doc["setup_done_ms"] / 1e3 - launch_s, "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (op_p50(ops), "s"),
        "rows_per_s": (rows_per_pass / wall, "rows/s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (doc["peak_rss_mb"], "MB"),
        "op_ok_frac": (1.0 - failed / attempted, "ratio"),
        "output_match_frac": (sum(checks.values()) / len(checks), "ratio"),
    }


def op_p50(ops):
    """Median over ops of each op's median latency across passes, so one
    slow pass moves no op."""
    by_op = {}
    for o in ops:
        by_op.setdefault(o["name"], []).append(dur_s(o))
    return stats.median([stats.median(v) for v in by_op.values()])


def attempts(doc):
    every = doc["cold_ops"] + doc["ops"]
    return len(every), sum(not o["ok"] for o in every)


def per_layer(doc):
    tr = doc["trace"]
    passes = [p for p in doc["passes"] if p["role"] == "traced"]
    n = len(passes)
    traced = {p["pass"] for p in passes}
    ops = [o for o in doc["ops"] if o["pass"] in traced]
    op_ids = {o["id"] for o in ops}
    jobs = [j for j in tr["jobs"] if j["op"] in op_ids and j["end_ms"] >= 0]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in tr["stages"] if s["job"] in job_ids and s["submit_ms"] >= 0]
    wall = sum(dur_s(p) for p in passes) / n
    untraced = [dur_s(p) for p in doc["passes"] if p["role"] == "timed"]

    def in_pass(ms):
        return any(p["start_ms"] <= ms <= p["end_ms"] for p in passes)

    def tot(xs):
        return sum(xs) / n

    m = {}
    construct = tot(dur_s(o, "start_ms", "construct_end_ms") for o in ops)
    m["ops.count"] = (len(ops) / n, "count")
    m["ops.construct_s"] = (construct, "s")
    m["ops.construct_jobs"] = (tot(j["part"] == "construct" for j in jobs), "count")
    m["ops.construct_share"] = (construct / wall, "ratio")
    # the DataFrames an op builds are analysed eagerly, outside any execution
    phases = [("analysis", a, b) for o in ops for a, b in o["analysis_ms"]] + \
        [(x["phase"], x["start_ms"], x["end_ms"]) for x in tr["phases"] if in_pass(x["start_ms"])]
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = (tot((b - a) / 1e3 for name, a, b in phases if name == ph), "s")
    pass_by_op = {o["id"]: o["pass"] for o in ops}
    busy = tot(union_s([(j["start_ms"], j["end_ms"]) for j in jobs
                        if pass_by_op[j["op"]] == p["pass"]])
               for p in passes)
    run_s = tot(s["run_ms"] / 1e3 for s in stages)
    m["scheduler.jobs"] = (len(jobs) / n, "count")
    m["scheduler.stages"] = (len(stages) / n, "count")
    m["scheduler.tasks"] = (tot(s["tasks"] for s in stages), "count")
    m["scheduler.job_busy_s"] = (busy, "s")
    m["scheduler.driver_gap_s"] = (wall - busy, "s")
    m["scheduler.task_failures"] = (tot(s["failed_tasks"] for s in stages), "count")
    m["executor.run_s"] = (run_s, "s")
    m["executor.cpu_s"] = (tot(s["cpu_ns"] / 1e9 for s in stages), "s")
    m["executor.gc_s"] = (tot(s["gc_ms"] / 1e3 for s in stages), "s")
    m["executor.deser_s"] = (tot(s["deser_ms"] / 1e3 for s in stages), "s")
    m["executor.slot_util"] = (run_s / (busy * doc["nproc"]) if busy > 0 else 0.0, "ratio")
    m["executor.task_skew"] = (task_skew(stages), "ratio")
    m["shuffle.write_mb"] = (tot(s["shuffle_write"] / 1e6 for s in stages), "MB")
    m["shuffle.read_mb"] = (tot(s["shuffle_read"] / 1e6 for s in stages), "MB")
    m["shuffle.spill_mb"] = (tot(s["spill_disk"] / 1e6 for s in stages), "MB")
    m["sources.scan_rows"] = (tot(s["in_records"] for s in stages), "count")
    m["sources.scan_mb"] = (tot(s["in_bytes"] / 1e6 for s in stages), "MB")
    gen = tr["extra"]
    m["sources.gen_rows_per_s"] = (gen["gen_rows"] / gen["gen_s"] if gen else 0.0, "rows/s")
    m["sources.write_mb"] = (tot(s["out_bytes"] / 1e6 for s in stages), "MB")
    executions = {j["execution"] for j in jobs}
    m["sources.write_files"] = (tot(f["files"] for f in tr["files_written"]
                                    if f["execution"] in executions), "count")
    for kind in ("load", "upsert", "export"):
        m[f"pipeline.{kind}_s"] = (tot(dur_s(o) for o in ops if o["name"] == kind), "s")
    hydro = doc["check"].get("hydro")
    m["pipeline.state_rows"] = (hydro["state_rows"] if hydro else 0, "count")
    m["pipeline.write_amp"] = (write_amp(ops, jobs, stages) if hydro else 0.0, "ratio")
    m["jvm.gc_s"] = (tot(p["gc_s"] for p in passes), "s")
    m["jvm.heap_peak_mb"] = (doc["heap_peak_mb"], "MB")
    m.update(self_times(ops, jobs, stages, passes, n))
    m["trace.overhead"] = (wall / stats.median(untraced), "ratio")
    return m


def task_skew(stages):
    """max/median task time per stage, weighted by stage time."""
    num = den = 0.0
    for s in stages:
        if len(s["task_ms"]) < 2 or s["complete_ms"] < 0:
            continue
        mid = statistics.median(s["task_ms"])
        w = (s["complete_ms"] - s["submit_ms"]) / 1e3
        if mid > 0 and w > 0:
            num += w * max(s["task_ms"]) / mid
            den += w
    return num / den if den else 1.0


def write_amp(ops, jobs, stages):
    """Bytes written by every load/upsert of a pass over the bytes the
    last upsert wrote, averaged over passes. Each load or upsert writes
    the whole state, so the last one's bytes are the final state's."""
    op_of_job = {j["id"]: j["op"] for j in jobs}
    written = {}
    for s in stages:
        op = op_of_job[s["job"]]
        written[op] = written.get(op, 0) + s["out_bytes"]
    amps = []
    for p in sorted({o["pass"] for o in ops}):
        sizes = [written.get(o["id"], 0) for o in ops
                 if o["pass"] == p and o["name"] in ("load", "upsert")]
        if sizes and sizes[-1]:
            amps.append(sum(sizes) / sizes[-1])
    return statistics.mean(amps) if amps else 0.0


def self_times(ops, jobs, stages, passes, n):
    """Self time of each span level: its duration minus the part of it
    that its children cover. Tree: workload > op > construct|action >
    job > stage."""
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault((j["op"], j["part"]), []).append((j["start_ms"], j["end_ms"]))
    stages_of = {}
    for s in stages:
        if s["complete_ms"] >= 0:
            stages_of.setdefault(s["job"], []).append((s["submit_ms"], s["complete_ms"]))

    def clipped(ivs, a, b):
        return [(max(x, a), min(y, b)) for x, y in ivs if min(y, b) > max(x, a)]

    workload = sum(dur_s(p) for p in passes) - sum(dur_s(o) for o in ops)
    cons = act = 0.0
    for o in ops:
        a, c, e = o["start_ms"], o["construct_end_ms"], o["end_ms"]
        cons += (c - a) / 1e3 - union_s(clipped(jobs_of.get((o["id"], "construct"), []), a, c))
        act += (e - c) / 1e3 - union_s(clipped(jobs_of.get((o["id"], "action"), []), c, e))
    job = sum(dur_s(j) - union_s(clipped(stages_of.get(j["id"], []), j["start_ms"],
                                         j["end_ms"])) for j in jobs)
    stage = sum((s["complete_ms"] - s["submit_ms"]) / 1e3 for s in stages
                if s["complete_ms"] >= 0)
    return {"self.workload_s": (workload / n, "s"), "self.construct_s": (cons / n, "s"),
            "self.action_s": (act / n, "s"), "self.job_s": (job / n, "s"),
            "self.stage_s": (stage / n, "s")}


# ---------------------------------------------------------------------------
# checks


def check_outputs(doc, data_dir):
    """{check name: passed}. Queries: the cold pass's output against
    the DuckDB oracle. hydro_feed: merged state against a one-shot merge
    of every delivered batch, and one export line per distinct site."""
    hydro = doc["check"].get("hydro")
    if hydro:
        return {"hydro.state": bool(hydro["state_matches"]),
                "hydro.export_lines": hydro["export_lines"] == hydro["distinct_sites"]}
    from oracle import Oracle
    oracle = Oracle(data_dir, os.path.join(data_dir, "oracle-cache.json"))
    cold_ok = {o["name"]: o["ok"] for o in doc["cold_ops"]}
    out = {}
    for name, q in sorted(doc["check"]["queries"].items()):
        try:
            ok = bool(cold_ok.get(name)) and q["oracle_sql"] is not None and \
                oracle.expected(q["oracle_sql"]) == oracle.actual(q["path"])
        except Exception as e:  # noqa: BLE001 - an unreadable output is a mismatch
            log(f"check {name}: {e}")
            ok = False
        if not ok:
            print(f"MISMATCH {name}")
        out[name] = ok
    return out


def query_rows_per_pass(doc, data_dir):
    """Rows of the input tables each query reads, summed over one pass."""
    rows = table_rows(data_dir)
    total = 0
    for q in doc["check"]["queries"].values():
        sql = (q["oracle_sql"] or "").lower()
        total += sum(r for t, r in rows.items() if re.search(rf"\b{t}\b", sql))
    return total


# ---------------------------------------------------------------------------


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        log(f"no graft sources under {ROOT}/src: run from a full checkout")
        return 2
    box0 = stats.box_probe()
    os.makedirs(WORK, exist_ok=True)
    classes = build(start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S
    data_dir = ensure_tables()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)  # never check a stale output
    tmp_dir = os.path.join(run_dir, "tmp")  # the JVM writes nothing outside the checkout
    os.makedirs(tmp_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + JVM_MEMORY + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}",
                           "-Dspark.ui.enabled=false",
              f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", f"{classes}{os.pathsep}{spark_jars()}/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--work", run_dir, "--out", out])
    launch = time.time()
    code = run_child(cmd, cwd=run_dir, env=dict(os.environ),
                     timeout=deadline - time.time(), out_path=os.path.join(run_dir, "jvm.log"))
    if code != 0 or not os.path.exists(out):
        log(f"benchmark JVM exited with {code}; see {run_dir}/jvm.log")
        return 1
    with open(out) as f:
        doc = json.load(f)
    checks = check_outputs(doc, data_dir)
    attempted, failed = attempts(doc)
    if args.trace:
        metrics = per_layer(doc)
    else:
        rows = doc["series_rows"] or query_rows_per_pass(doc, data_dir)
        metrics = end_to_end(doc, launch, checks, rows)
    box = stats.box_probe(box0)
    noisy = box["steal_frac"] > 0.05 or box["loadavg_1m"] > 1.5 * box["nproc"]
    print(f"box: nproc={box['nproc']} loadavg_1m={box['loadavg_1m']:.2f} "
          f"steal={box['steal_frac']:.3f} iowait={box['iowait_frac']:.3f}"
          + (" NOISY" if noisy else ""))
    print(f"setup: session start {doc['session_ready_ms'] / 1e3 - launch:.3f} s, "
          f"cold pass {(doc['setup_done_ms'] - doc['session_ready_ms']) / 1e3:.3f} s")
    timed = {p["pass"] for p in doc["passes"] if p["role"] == "timed"}
    op_s = [dur_s(o) for o in doc["ops"] if o["pass"] in timed]
    try:
        pct, v = stats.tail_percentile(op_s)
        print(f"ops: n={len(op_s)} p50={stats.median(op_s):.4f} s p{pct}={v:.4f} s")
    except ValueError:
        print(f"ops: n={len(op_s)} p50={stats.median(op_s):.4f} s (too few for a tail)")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0 and all(checks.values()),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # noqa: BLE001 - no result line on any failure
        log(f"error: {e}")
        sys.exit(1)
