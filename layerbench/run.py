#!/usr/bin/env python3
"""graft layer benchmark: one closed-loop client over three workloads.

Usage, from the repository root:

    python3 layerbench/run.py --workload star_olap --seed 1 --seconds 12 --trace 0
    python3 layerbench/run.py --record      # rewrite layerbench/expected.json

Each run builds the engine and the benchmark's Scala code from source if
they changed, starts one JVM (`layerbench.Main`) on a local session with one
thread per core, and prints one JSON object as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer ones with
`--trace 1`. The seed sets the order of the workload's queries in every
pass. README.md in this directory describes the workloads and metrics.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / ".data"

# Each workload: the fixture directory its queries read, the queries of
# one pass, and the pass time measured at the commit that set it up. A
# run makes ceil(seconds / pass_s) passes: a fixed count, so that every
# run compares the same passes of a JVM that is still warming up.
# README.md gives the reasons for each choice.
WORKLOADS = {
    "star_olap": {
        "fixtures": "star_x10",
        "pass_s": 3.3,
        "queries": ["q01_pricing_summary", "q02_parttype_revenue", "q09_order_width_perf"],
    },
    "pipeline_graph": {
        "fixtures": "sf0.01",
        "pass_s": 4.3,
        "queries": ["x03_bfs_hops", "d09_dup_clusters", "d02_jaccard_pairs"],
    },
    "stream_replay": {
        "fixtures": "sf0.01",
        "pass_s": 5.5,
        "queries": ["v17_streamed_profiles", "w01_incremental_agg", "w02_snapshot_diff"],
    },
}

HEAP = "2g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "ok_ratio": "ratio", "peak_rss_mb": "MB", "cpu_s": "s",
}


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def steal_seconds():
    """CPU seconds the hypervisor has taken from this machine's vCPUs."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark's Scala code with sbt when
    their sources changed since the last build in this checkout; returns
    the classpath."""
    sources = [p for d in (ROOT / "src" / "main", HERE / "src")
               for p in d.rglob("*") if p.is_file()]
    sources += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    stamp = tree_digest(sources)
    cp_file = HERE / "target" / "layerbench.classpath"
    if cp_file.exists():
        saved_stamp, cp = cp_file.read_text().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    classes = str(HERE / "target")
    if proc.returncode != 0 or not lines or not lines[-1].startswith(classes):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("the sbt build failed")
    cp_file.write_text(stamp + "\n" + lines[-1] + "\n")
    return lines[-1]


# bump when star_x10() changes the tables it writes
STAR_X10_VERSION = "1:"


def star_x10():
    """The star-schema tables of the committed sf0.01 fixtures, ten times
    over: each copy shifts every key by the table's key range, so joins
    stay one-to-one within a copy and names stay unique. The other
    tables are copied as they are. Written once per checkout."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = HERE / "fixtures" / "sf0.01"
    dst = DATA / "star_x10"
    stamp = STAR_X10_VERSION + tree_digest(list(src.glob("*.parquet")))
    if (dst / "STAMP").exists() and (dst / "STAMP").read_text() == stamp:
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    dst.mkdir(parents=True)
    tables = {p.stem: pq.read_table(p) for p in src.glob("*.parquet")}
    span = {k: pc.max(tables[t][k]).as_py() + 1 for t, k in
            [("customer", "c_custkey"), ("supplier", "s_suppkey"),
             ("part", "p_partkey"), ("orders", "o_orderkey")]}
    keys = {
        "customer": {"c_custkey": "c_custkey"},
        "supplier": {"s_suppkey": "s_suppkey"},
        "part": {"p_partkey": "p_partkey"},
        "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
        "lineitem": {"l_orderkey": "o_orderkey", "l_partkey": "p_partkey",
                     "l_suppkey": "s_suppkey"},
    }
    names = {"customer": ("c_name", "c_custkey", "Customer#"),
             "supplier": ("s_name", "s_suppkey", "Supplier#")}
    for name, table in tables.items():
        if name in keys:
            copies = []
            for i in range(10):
                t = table
                for col, key in keys[name].items():
                    shifted = pc.add(t[col], pa.scalar(i * span[key], t.schema.field(col).type))
                    t = t.set_column(t.schema.get_field_index(col), col, shifted)
                if name in names:
                    col, key, prefix = names[name]
                    text = [f"{prefix}{k:09d}" for k in t[key].to_pylist()]
                    t = t.set_column(t.schema.get_field_index(col), col,
                                     pa.array(text, pa.string()))
                copies.append(t)
            table = pa.concat_tables(copies)
        pq.write_table(table, dst / f"{name}.parquet", row_group_size=max(1, table.num_rows))
    (dst / "STAMP").write_text(stamp)
    return dst


def fixtures(workload):
    name = WORKLOADS[workload]["fixtures"]
    return star_x10() if name == "star_x10" else HERE / "fixtures" / name


def jvm(cp, args):
    """Runs one benchmark JVM to completion in a fresh directory that holds
    its temporary files, shuffle files and warehouse, and is deleted
    afterwards. Returns the JVM's launch time and its JSON output."""
    run_dir = HERE / ".runs" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (run_dir / d).mkdir(parents=True)
    try:
        return run_jvm(cp, run_dir, args)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_jvm(cp, run_dir, args):
    out = run_dir / "out.json"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dspark.local.dir={run_dir / 'local'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "-cp", cp, "layerbench.Main", *args, "--out", str(out),
    ]
    log = run_dir / "jvm.log"
    launched = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=err, stderr=err, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not out.exists():
        sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
        raise RuntimeError(f"the benchmark JVM ended with {code}")
    return launched, json.loads(out.read_text())


def run(workload, seed, seconds, trace):
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT / 'src'}; run from a graft checkout")
    spec = WORKLOADS[workload]
    expected = json.loads((HERE / "expected.json").read_text())[workload]
    cp = build()
    data = fixtures(workload)
    order = random.Random(seed).sample(spec["queries"], len(spec["queries"]))
    n_cores = cores()

    shm_before = set(glob.glob("/dev/shm/graft_replay_ckpt_*"))
    steal_before = steal_seconds()
    base = ["--dir", str(data), "--queries", ",".join(order), "--trace", str(trace),
            "--cores", str(n_cores), "--passes", str(max(1, math.ceil(seconds / spec["pass_s"])))]
    launched, main = jvm(cp, base)
    leaked = sorted(set(glob.glob("/dev/shm/graft_replay_ckpt_*")) - shm_before)
    steal = steal_seconds() - steal_before

    # a query whose check-pass digest differs fails every execution
    wrong = {q for q, d in main["digests"].items() if d != expected.get(q)}
    execs = main["execs"]
    ok = [e for e in execs if e["error"] is None and e["query"] not in wrong]
    for q in sorted(wrong):
        print(f"digest mismatch: {q}: got {main['digests'][q]}, expected {expected.get(q)}")
    for e in execs:
        if e["error"] is not None:
            print(f"failed: pass {e['pass']} {e['query']}: {e['error']}")
    if leaked:
        print(f"left in /dev/shm: {', '.join(leaked)}")

    passes = main["passes"]
    if trace:
        metrics = layer_metrics(main, n_cores)
        write_sidecar(workload, seed, order, main)
    else:
        latencies = [e["latency_s"] for e in execs]
        tail, pct, n = stats.tail(latencies)
        values = {
            "setup_s": main["setup_done_ms"] / 1000.0 - launched,
            "pass_s": stats.median([p["wall_s"] for p in passes]),
            "query_p50_s": stats.median(latencies),
            "query_tail_s": tail,
            "ok_ratio": len(ok) / len(execs),
            "peak_rss_mb": main["peak_rss_mb"],
            "cpu_s": stats.median([p["cpu_s"] for p in passes]),
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        print(f"{workload} seed {seed}: {len(passes)} passes of {len(order)} queries; "
              f"query_tail_s is p{pct:.1f} of {n} executions")
        per_query = {q: stats.median([e["latency_s"] for e in execs if e["query"] == q])
                     for q in order}
        print("median latency: " + ", ".join(f"{q} {v:.3f} s" for q, v in per_query.items()))
        print("pass walls: " + ", ".join(f"{p['wall_s']:.3f}" for p in passes) + " s")
    print(f"host anchors: cpu {main['anchor_s']:.3f} s, io {main['io_anchor_s']:.3f} s; "
          f"cpu time stolen by the hypervisor during the run: {steal:.2f} s")
    correct = not wrong and not leaked and len(ok) == len(execs)
    return {"correct": correct, "attempted": len(execs), "failed": len(execs) - len(ok),
            "metrics": metrics}


# name → unit of each per-layer metric; all but the derived ones are
# medians over passes of per-pass sums in the JVM's trace
LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "operators.build_s": "s", "operators.action_s": "s", "operators.eager_jobs": "count",
    "plans.analysis_s": "s", "plans.optimizer_s": "s", "plans.planning_s": "s",
    "plans.exchanges_ensure": "count", "plans.exchanges_pinned": "count",
    "plans.broadcast_joins": "count", "plans.sort_merge_joins": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.single_task_stage_s": "s", "exec.no_task_s": "s",
    "exec.slot_busy_ratio": "ratio", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_fetch_wait_s": "s", "exec.spill_mb": "MB",
    "sources.scan_s": "s", "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.output_mb": "MB", "proc.disk_write_mb": "MB",
    "streaming.batches": "count", "streaming.data_batch_ratio": "ratio",
    "streaming.batch_p50_s": "s", "streaming.batch_tail_s": "s",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s", "streaming.get_batch_s": "s",
    "streaming.state_commit_s": "s", "streaming.state_rows": "count", "streaming.state_mb": "MB",
}


def layer_metrics(main, n_cores):
    passes = main["passes"]
    values = {name: stats.median([p.get(name, 0.0) for p in passes]) for name in LAYER_UNITS}
    values["session.start_s"] = main["session_start_s"]
    values["session.warm_s"] = main["warm_s"]
    values["exec.slot_busy_ratio"] = stats.median(
        [p.get("exec.task_run_s", 0.0) / (n_cores * p["wall_s"]) for p in passes])
    values["sources.scan_s"] = main["scan_s"]
    batches = main["batch_s"]
    values["streaming.data_batch_ratio"] = stats.median(
        [p.get("streaming.data_batches", 0.0) / p["streaming.batches"] if p.get("streaming.batches")
         else 0.0 for p in passes])
    values["streaming.batch_p50_s"] = stats.median(batches) if batches else 0.0
    values["streaming.batch_tail_s"] = stats.tail(batches)[0] if batches else 0.0
    return {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS.items()}


def write_sidecar(workload, seed, order, main):
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    doc = {"workload": workload, "seed": seed, "order": order, "passes": main["passes"],
           "calls": main["calls"], "streaming_batch_s": main["batch_s"],
           "sources_scan_s": main["scan_s"], "anchor_s": main["anchor_s"],
           "io_anchor_s": main["io_anchor_s"]}
    path = out / f"trace_{workload}_seed{seed}.json"
    path.write_text(json.dumps(doc, indent=1) + "\n")
    print(f"per-query trace written to {path.relative_to(ROOT)}")


def record():
    """Rewrites expected.json from one single-pass run per workload."""
    cp = build()
    expected = {}
    for workload, spec in WORKLOADS.items():
        _, r = jvm(cp, ["--dir", str(fixtures(workload)), "--queries", ",".join(spec["queries"]),
                        "--trace", "0", "--cores", str(cores()), "--passes", "1"])
        bad = {q: d for q, d in r["digests"].items() if d.startswith("error")}
        if bad:
            fail(f"{workload}: queries failed while recording: {bad}")
        expected[workload] = dict(sorted(r["digests"].items()))
    (HERE / "expected.json").write_text(json.dumps(expected, indent=1) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if a.record:
        record()
        return
    if a.workload is None:
        ap.error("--workload is required")
    result = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
