"""Benchmark entry point.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Prints one line per metric (name, value,
unit), the pinned environment, and as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer ones with
``--trace 1``. Generated inputs, DuckDB answers and the full per-run record
(spans included) live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("headline_sf0.1", "scan_20x", "lake_commit")
DRIVER_MEM = "4g"
TAIL_Q = 0.9  # op_tail_s quantile; see METRICS.md for the sample counts
REQUIRED = ("apache_iceberg_demo_spark/__init__.py", "bench.py", "tests/oracle_utils.py")
#: end-to-end metrics that exist only where ops commit to the lake
LAKE_ONLY = {
    "commit_p50_s": "s", "commit_tail_s": "s", "scan_p50_s": "s", "scan_tail_s": "s",
    "bytes_written_per_user_byte": "ratio", "bytes_stored_per_user_byte": "ratio",
}


def _pin_env() -> dict:
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVMs' temp files go to the checkout; -UsePerfData stops the
    # hsperfdata files HotSpot always puts under /tmp (spark-submit's
    # launcher JVM reads SPARK_LAUNCHER_OPTS, the driver SPARK_SUBMIT_OPTS)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = None
    return {"nproc": nproc, "SPARK_LOCAL_DIRS": local, "driver_memory": DRIVER_MEM}


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of quantile ``q``: a Beta-weighted average of
    all order statistics. A pass mixes ops whose latencies sit in clusters
    per query; the sample median jumps between clusters from run to run,
    this estimate moves smoothly."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = 20_000
    t = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, grid + 1), cdf)
    return float(np.dot(np.diff(edges), x))


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def end_to_end(ops, measured: float, setup_s: float, rss: float, lake: dict | None) -> dict:
    walls = [r.wall for r in ops]
    out = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (hd_quantile(walls, 0.5), "s"),
        "op_tail_s": (hd_quantile(walls, TAIL_Q), "s"),
        "ops_per_s": (len(ops) / measured, "1/s"),
        "peak_rss_mb": (rss, "MiB"),
        "error_rate": (sum(1 for r in ops if r.error) / len(ops), "ratio"),
    }
    if lake is not None:
        commits = [r.wall for r in ops if r.kind == "commit"]
        scans = [r.wall for r in ops if r.kind == "scan"]
        out.update({
            "commit_p50_s": (hd_quantile(commits, 0.5), "s"),
            "commit_tail_s": (hd_quantile(commits, TAIL_Q), "s"),
            "scan_p50_s": (hd_quantile(scans, 0.5), "s"),
            "scan_tail_s": (hd_quantile(scans, TAIL_Q), "s"),
            "bytes_written_per_user_byte": (lake["written"] / max(1, lake["user_bytes"]), "ratio"),
            "bytes_stored_per_user_byte": (lake["stored"] / max(1, lake["user_bytes"]), "ratio"),
        })
    return out


def per_layer(ops, setup: dict, e2e: dict, lake: dict | None, nproc: int, trace_s: float) -> dict:
    from tracing import LAYER

    n = len(ops)
    olap = [r for r in ops if r.kind == "olap"]
    st = [r.stats for r in ops]
    jobs_s = [r.trace.total("spark.jobs") for r in ops]
    cpu_ms = sum(s["cpu_ms"] for s in st)
    tasks = sum(s["tasks"] for s in st)
    caches = [r.facts["cache"] for r in ops]
    self_by_layer = {v: 0.0 for v in LAYER.values()}
    gap = 0.0
    for r in ops:
        times = r.trace.self_times()
        for sp, t in zip(r.trace.spans, times):
            self_by_layer[LAYER[sp.name]] += t
        gap = max(gap, abs(sum(times) - r.trace.spans[0].dur) * 1000)

    def phase(name):
        return _mean(r.facts.get("catalyst", {}).get(name, 0.0) for r in olap)

    def of(name):
        return [r for r in ops if r.name == name]

    def span_mean(recs, name):
        return _mean(r.trace.total(name) for r in recs)

    def jobs_under(recs, name):
        """Mean job time under the ``name`` span of each op in ``recs``."""
        out = []
        for r in recs:
            idx = {i for i, sp in enumerate(r.trace.spans) if sp.name == name}
            out.append(sum(sp.dur for sp in r.trace.spans
                           if sp.name == "spark.jobs" and sp.parent in idx))
        return _mean(out)

    def scanned(recs):
        return _mean(r.stats["files_read"] / r.facts["files_live"]
                     for r in recs if r.facts.get("files_live"))

    build_jobs = []
    for r in olap:
        b = next(sp for sp in r.trace.spans if sp.name == "build")
        build_jobs.append(sum(1 for s, e in r.stats["jobs"] if s < b.end))
    lake_ops = [r for r in ops if r.kind != "olap"]
    appends, compacts = of("warehouse.append"), of("warehouse.rewrite_data_files")
    ing = of("ingest.run")
    lk = lake or {}
    m = {
        "session.start_s": (setup["start_s"], "s"),
        "registry.load_all_s": (setup["load_all_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "operators.build_s": (span_mean(olap, "build"), "s"),
        "operators.build_jobs": (_mean(build_jobs), "count"),
        "catalyst.analysis_ms": (phase("analysis"), "ms"),
        "catalyst.optimization_ms": (phase("optimization"), "ms"),
        "catalyst.planning_ms": (phase("planning"), "ms"),
        "execution.jobs_s": (_mean(jobs_s), "s"),
        "execution.cpu_ms": (cpu_ms / n, "ms"),
        "execution.run_ms": (_mean(s["run_ms"] for s in st), "ms"),
        "execution.cpu_util": (cpu_ms / max(1e-9, nproc * sum(jobs_s) * 1000), "ratio"),
        "execution.input_rows": (_mean(s["input_rows"] for s in st), "count"),
        "execution.input_bytes": (_mean(s["input_bytes"] for s in st), "bytes"),
        "execution.files_read": (_mean(s["files_read"] for s in st), "count"),
        "execution.shuffle_bytes": (_mean(s["shuffle_bytes"] for s in st), "bytes"),
        "execution.spill_bytes": (_mean(s["spill_bytes"] for s in st), "bytes"),
        "execution.jobs": (_mean(len(s["jobs"]) for s in st), "count"),
        "execution.stages": (_mean(s["stages"] for s in st), "count"),
        "execution.tasks": (tasks / n, "count"),
        "execution.empty_task_ratio": (sum(s["empty_tasks"] for s in st) / max(1, tasks), "ratio"),
        "execution.gc_ms": (_mean(s["gc_ms"] for s in st), "ms"),
        "execution.peak_exec_mem_mb": (max(s["peak_exec_mem"] for s in st) / 2**20, "MiB"),
        "handoff.s": (span_mean(olap, "collect") - jobs_under(olap, "collect"), "s"),
        "handoff.result_rows": (_mean(r.rows for r in olap), "count"),
        "udf.bytes_to_python": (_mean(s["udf_to_py"] for s in st), "bytes"),
        "udf.bytes_from_python": (_mean(s["udf_from_py"] for s in st), "bytes"),
        "caching.persistent_rdds_max": (max(c[0] for c in caches), "count"),
        "caching.persistent_rdds_leaked": (caches[-1][0] - setup["rdds_before"], "count"),
        "caching.storage_mb": (max(c[1] for c in caches), "MiB"),
        "ingest.read_s": (span_mean(ing, "ingest.read"), "s"),
        "ingest.transform_s": (span_mean(ing, "ingest.transform"), "s"),
        "ingest.run_s": (span_mean(ing, "ingest.run"), "s"),
        "warehouse.append_s": (span_mean(appends, "warehouse.append"), "s"),
        "warehouse.append_jobs_s": (jobs_under(appends, "warehouse.append"), "s"),
        "warehouse.append_driver_s": (span_mean(appends, "warehouse.append")
                                      - jobs_under(appends, "warehouse.append"), "s"),
        "warehouse.read_call_s": (span_mean(of("warehouse.read"), "warehouse.read")
                                  - jobs_under(of("warehouse.read"), "warehouse.read"), "s"),
        "warehouse.files_scanned_ratio": (scanned(of("warehouse.read")), "ratio"),
        "warehouse.files_live": (lk.get("files_live", 0), "count"),
        "warehouse.snapshots_live": (lk.get("snapshots_live", 0), "count"),
        "warehouse.avg_file_kb": (lk.get("avg_file_kb", 0.0), "KiB"),
        "warehouse.metadata_bytes": (lk.get("metadata_bytes", 0), "bytes"),
        "warehouse.compact_s": (span_mean(compacts, "warehouse.rewrite_data_files"), "s"),
        "warehouse.compact_bytes_rewritten": (_mean(r.facts["bytes_written"] for r in compacts), "bytes"),
        "warehouse.expire_s": (span_mean(of("warehouse.expire_snapshots"), "warehouse.expire_snapshots"), "s"),
        "warehouse.files_removed": (_mean(r.facts["files_removed"] for r in of("warehouse.expire_snapshots")), "count"),
        "iceberg_v2.export_s": (span_mean(of("iceberg_v2.export"), "iceberg_v2.export"), "s"),
        "iceberg_v2.manifest_files": (_mean(r.facts.get("manifest_files", 0) for r in of("iceberg_v2.export")), "count"),
        "iceberg_v2.read_call_s": (span_mean(of("iceberg_v2.read"), "iceberg_v2.read")
                                   - jobs_under(of("iceberg_v2.read"), "iceberg_v2.read"), "s"),
        "iceberg_v2.files_scanned_ratio": (scanned(of("iceberg_v2.read")), "ratio"),
        "io.bytes_written": (_mean(r.facts["bytes_written"] for r in lake_ops), "bytes"),
    }
    for key, unit in LAKE_ONLY.items():
        m[f"lake.{key}"] = e2e.get(key, (0.0, unit))
    m["check.error_rate"] = e2e["error_rate"]
    for layer, t in self_by_layer.items():
        m[f"self.{layer}_s"] = (t / n, "s")
    m["trace.op_wall_s"] = (_mean(r.wall for r in ops), "s")
    m["trace.self_time_gap_ms"] = (gap, "ms")
    m["trace.overhead_s"] = (trace_s / n, "s")
    m["trace.overhead_ratio"] = (trace_s / sum(r.wall for r in ops), "ratio")
    return m


def _spans(ops) -> list[dict]:
    return [
        {"op": r.trace.op_id, "op_name": r.name, "span": i, "name": sp.name,
         "parent": sp.parent, "start": sp.start, "end": sp.end, "self_s": t}
        for r in ops for i, (sp, t) in enumerate(zip(r.trace.spans, r.trace.self_times()))
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    env = _pin_env()

    import numpy as np

    import inputs
    import oracle
    import workloads as W

    rng = np.random.default_rng(args.seed)
    if args.workload == "lake_commit":
        lake_in = inputs.lake_inputs(WORK, args.seed)
        data_dir, names = lake_in.root, []
    else:
        scan = args.workload == "scan_20x"
        data_dir = inputs.scaled_dir(WORK) if scan else inputs.base_dir(WORK)
        names = W.SCAN_OPS if scan else W.HEADLINE_OPS

    # set-up: session, registry, one untimed call of every op type
    t0 = time.perf_counter()
    from apache_iceberg_demo_spark.session import (
        default_parallelism,
        get_spark,
        sized_shuffle_partitions,
    )

    parts = sized_shuffle_partitions(inputs.dir_bytes(data_dir), default_parallelism())
    spark = get_spark("perfbench", shuffle_partitions=parts)
    t1 = time.perf_counter()
    from apache_iceberg_demo_spark import registry

    registry.load_all()
    t2 = time.perf_counter()
    if names:  # codegen and JIT warm up on the 1x tables for both olap workloads
        W.olap_warmup(spark, registry.QUERIES, names, inputs.base_dir(WORK))
    else:
        W.lake_warmup(spark, lake_in, WORK)
    t3 = time.perf_counter()
    setup = {"start_s": t1 - t0, "load_all_s": t2 - t1, "warmup_s": t3 - t2}

    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    env.update({
        "shuffle_partitions": parts,
        "pyspark": spark.version,
        "duckdb": __import__("duckdb").__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    })
    run = W.Runner(spark, traced=bool(args.trace))
    setup["rdds_before"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    lake = None
    try:
        if names:
            answers = oracle.answers(data_dir, names, registry.ORACLES, os.path.join(WORK, "oracle"))
            W.olap_loop(run, registry.QUERIES, names, data_dir, answers, rng, args.seconds)
        else:
            lake = W.lake_loop(run, lake_in, WORK, args.seconds)
        measured = run.measured()
        env["rss_mb"] = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm.pid)}
        rss = sum(env["rss_mb"].values())
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=120)

    ops = run.ops
    e2e = end_to_end(ops, measured, t3 - t0, rss, lake)
    failed = [r for r in ops if r.error]
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(ops)} failed={len(failed)} measured_s={measured:.3f} "
          f"tail=p{TAIL_Q * 100:.0f}")
    for r in failed:
        print(f"failed {r.name}: {r.error}")
    for name, (v, unit) in e2e.items():
        print(f"metric {name} {v:.6g} {unit}")
    if lake is None:
        for name, unit in LAKE_ONLY.items():
            print(f"metric {name} n/a {unit} (no lake ops on this workload)")
    print("env " + json.dumps(env, sort_keys=True))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        layers = per_layer(ops, setup, e2e, lake, env["nproc"], run.trace_s)
        for name, (v, unit) in layers.items():
            print(f"layer {name} {v:.6g} {unit}")
        chosen = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "setup": setup, "end_to_end": e2e,
        "ops": [{"name": r.name, "kind": r.kind, "wall": r.wall, "error": r.error}
                for r in ops],
    }
    if args.trace:
        record["per_layer"] = layers
        record["spans"] = _spans(ops)
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, default=str)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
