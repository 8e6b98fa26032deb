"""Benchmark entry point.

    python3 perfbench/run.py --workload curation_search --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/``, starts a Spark session, sets the
workload up, runs its operations in a closed loop with one client for
``--seconds`` (whole passes), checks the outputs, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, from a run whose passes alternate between
traced and untraced (the difference is reported as the tracing
overhead). The line before it is the full run record: per-op samples,
the tail percentile, host interference and the output-check verdicts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

PACKAGE = "ecs_ecommerce_data_pipeline_spark"
OPERATOR_MODULES = [
    "kpis", "validation", "dedup", "similarity", "retrieval",
    "graph", "text", "bpe", "multimodal", "curation",
]
# scale factor of the generated catalog tables the read workloads query
SCALE = {"kpi_reports": 0.01, "curation_search": 0.01}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    p.add_argument("--spans", default=None, help="write the traced run's spans (JSON lines) here")
    return p.parse_args(argv)


def install_wrappers(tracer: Tracer) -> None:
    """Wrap each layer's public functions before the catalog imports its
    query modules, and rebind copies that already-imported modules hold."""
    import importlib

    wrapped: dict[int, object] = {}

    def wrap(modname: str, layer: str, names: list[str] | None = None) -> None:
        mod = importlib.import_module(f"{PACKAGE}.{modname}")
        for n in tracer.wrap_module(mod, layer, names):
            wrapper = getattr(mod, n)
            wrapped[id(wrapper.__wrapped__)] = wrapper

    wrap("session", "session", ["get_spark"])
    wrap("sources.testdata", "sources", ["load_table", "ecommerce_views", "cached_count"])
    for m in OPERATOR_MODULES:
        wrap(f"operators.{m}", f"operators.{m}")
    wrap("plans.incremental", "plans")
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE):
            for n, v in list(vars(mod).items()):
                w = wrapped.get(id(v))
                if w is not None and w is not v:
                    setattr(mod, n, w)


def percentile_tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest order
    statistic with at least 10 samples above it, but never below the
    median -- a run of 20 ops or fewer reports its median."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 10  # 1-based rank with 10 samples beyond
    if 2 * k <= n:
        return statistics.median(xs), 50.0, n // 2
    return xs[k - 1], 100.0 * k / n, 10


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    t_proc = procstat.process_start_epoch()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(min(4, os.cpu_count() or 4))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # python workers import the package by module reference (the
    # transformWithStateInPandas processor pickles that way)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )

    tracer = Tracer()
    if args.trace:
        install_wrappers(tracer)
    from ecs_ecommerce_data_pipeline_spark import session

    sf = SCALE.get(args.workload) if args.sf is None else args.sf
    ctx = workloads.Context(
        spark=None, seed=args.seed, sf=sf, data_dir=os.path.join(work, "data"),
        work_dir=work, tracer=tracer,
    )
    wl = workloads.WORKLOADS[args.workload](ctx)
    host0 = procstat.sample_host()
    sampler = procstat.Sampler().start()
    spark = None
    try:
        wl.make_inputs()
        extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
        if args.trace:
            extra.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        tracer.active = bool(args.trace)
        spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
        ctx.spark = spark
        sc = spark.sparkContext
        if args.trace:
            from sparkstats import JobCounter

            counter = JobCounter(sc)
            counter.groups = ctx.job_groups
            tracer.set_job_counter(counter)
        ctx.job_groups[:] = ["perfbench-setup"]
        sc.setJobGroup("perfbench-setup", "set-up")
        wl.setup()
        setup_s = time.time() - t_proc
        session_spans = tracer.self_times().get("session", {})
        tracer.active = False

        # -- timed closed loop: whole passes until --seconds is spent ------
        ops: list[dict] = []
        passes: list[dict] = []
        t_end = time.perf_counter() + args.seconds
        op_id = 0
        # a traced run needs an untraced pass too, for the overhead
        min_passes = 2 if args.trace else 1
        while time.perf_counter() < t_end or len(passes) < min_passes:
            traced = bool(args.trace) and len(passes) % 2 == 0
            cpu0 = procstat.sample_tree() if args.trace else None
            p0 = time.perf_counter()
            for op in wl.next_pass():
                op_id += 1
                group = f"perfbench-op{op_id}-{op.name}"
                ctx.job_groups[:] = [group]
                sc.setJobGroup(group, op.name)
                tracer.op, tracer.active = op_id, traced
                t0 = time.perf_counter()
                err, stats = None, {}
                try:
                    stats = wl.run_op(op) or {}
                except Exception as e:  # noqa: BLE001 — a failed op is counted, the loop goes on
                    err = f"{type(e).__name__}: {str(e)[:300]}"
                lat = time.perf_counter() - t0
                tracer.active = False
                if traced:
                    stats["jobs"] = counter()
                ops.append({
                    "id": op_id, "name": op.name, "s": lat, "error": err,
                    "traced": traced, "groups": list(ctx.job_groups), "stats": stats,
                })
            wall = time.perf_counter() - p0
            rec = {"s": wall, "traced": traced}
            if cpu0 is not None:
                cpu1 = procstat.sample_tree()
                rec["cpu"] = {
                    "driver_python_s": cpu1.driver_cpu_s - cpu0.driver_cpu_s,
                    "jvm_s": cpu1.jvm_cpu_s - cpu0.jvm_cpu_s,
                    "python_worker_s": cpu1.worker_cpu_s - cpu0.worker_cpu_s,
                    "write_bytes": cpu1.write_bytes - cpu0.write_bytes,
                }
            passes.append(rec)
        sc.setJobGroup("perfbench-check", "output check")

        # -- output checks, off the clock ----------------------------------
        t_check = time.perf_counter()
        verdicts = wl.check()
        check_s = time.perf_counter() - t_check
        bad_names = {n for n, v in verdicts.items() if v is not None}
        # a failed whole-run check (sinks, ledger) fails every op
        run_level = bad_names - {o["name"] for o in ops}
        for o in ops:
            if o["error"] is None and (o["name"] in bad_names or run_level):
                o["error"] = "output check failed"
        stage_metrics = {}
        if args.trace:
            from sparkstats import stage_metrics_by_group

            stage_metrics = stage_metrics_by_group(sc)
        stored = wl.stored_bytes()
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host1 = procstat.sample_host()

    failed = sum(o["error"] is not None for o in ops)
    lat = [o["s"] for o in ops]
    tail, tail_pct, beyond = percentile_tail(lat)
    untraced = [p["s"] for p in passes if not p["traced"]]
    host = {
        "steal_jiffies": host1.steal - host0.steal,
        "iowait_jiffies": host1.iowait - host0.iowait,
        "load_1m_max": sampler.load_max,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "sf": sf, "trace": args.trace,
        "spark_cpus": int(cpus), "setup_s": setup_s,
        "setup_detail": getattr(wl, "setup_detail", {}),
        "passes": passes,
        "ops": [{k: o[k] for k in ("id", "name", "s", "error", "traced")} for o in ops],
        "op_tail": {"value": tail, "percentile": tail_pct, "samples": len(lat), "beyond": beyond},
        "host": host,
        "checks": verdicts,
        "check_s": check_s,
    }

    if args.trace:
        metrics = layer_metrics(
            tracer, passes, ops, stage_metrics, session_spans, host,
            failed / len(ops), stored / max(1, wl.input_bytes),
        )
        streaming_api = _streaming_api()
        if streaming_api:
            record["daily_kpi_running.api"] = streaming_api
        if args.spans:
            tracer.dump(args.spans)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(untraced), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail, "s"),
            "peak_rss_mb": (sampler.peak_rss / 2**20, "MB"),
        }
    record["metrics"] = {k: v[0] for k, v in metrics.items()}
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process the
    run started (JVM, daemon, workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = procstat.descendant_pids()
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    procstat.wait_gone(started, timeout=30)


def _streaming_api() -> str | None:
    mod = sys.modules.get(f"{PACKAGE}.streaming.stateful")
    fn = getattr(mod, "daily_kpi_running", None) if mod else None
    return getattr(fn, "api", None)


def layer_metrics(tracer, passes, ops, stage_metrics, session_spans, host, failed_ratio, stored_ratio):
    """Per-layer numbers per pass, averaged over the traced passes."""
    traced_passes = [p for p in passes if p["traced"]]
    n = max(1, len(traced_passes))
    traced_ops = [o for o in ops if o["traced"]]
    op_ids = {o["id"] for o in traced_ops}
    layers = tracer.self_times(op_ids)
    spans = [s for s in tracer.spans if s.end and s.op in op_ids]

    def inclusive(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name) / n

    def layer(name: str, key: str) -> float:
        return layers.get(name, {}).get(key, 0) / n

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (session_spans.get("s", 0.0), "s")
    m["queries.build_s"] = (inclusive("queries.build"), "s")
    build_jobs = sum(s.jobs1 - s.jobs0 for s in spans if s.name == "queries.build")
    m["queries.build_jobs"] = (build_jobs / n, "count")
    m["sources.load_calls"] = (layer("sources", "calls"), "count")
    m["sources.load_s"] = (layer("sources", "s"), "s")
    m["sources.load_jobs"] = (layer("sources", "jobs"), "count")
    for mod in OPERATOR_MODULES:
        key = f"operators.{mod}"
        m[f"{key}.calls"] = (layer(key, "calls"), "count")
        m[f"{key}.s"] = (layer(key, "s"), "s")
        m[f"{key}.jobs"] = (layer(key, "jobs"), "count")

    # execution engine: everything after the plan is built
    op_s = sum(o["s"] for o in traced_ops)
    exec_totals = dict.fromkeys(
        ("stages", "tasks", "single_task_stages", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "input_bytes", "executor_run_s", "executor_cpu_s", "gc_s"), 0.0)
    for o in traced_ops:
        for g in o["groups"]:
            sm = stage_metrics.get(g, {})
            for k in exec_totals:
                exec_totals[k] += sm.get(k, 0)
    m["exec.s"] = (op_s / n - inclusive("queries.build"), "s")
    m["exec.jobs"] = (sum(o["stats"]["jobs"] for o in traced_ops) / n - build_jobs / n, "count")
    for k, v in exec_totals.items():
        m[f"exec.{k}"] = (v / n, "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count"))

    for k in ("driver_python_s", "jvm_s", "python_worker_s"):
        m[f"cpu.{k}"] = (sum(p["cpu"][k] for p in traced_passes) / n, "s")

    m["plans.process_batch_s"] = (inclusive("plans.process_batch"), "s")
    m["plans.merge_upsert_s"] = (inclusive("plans.merge_upsert"), "s")
    m["plans.write_partitioned_s"] = (inclusive("plans.write_partitioned"), "s")
    m["plans.partitions_rewritten"] = (sum(o["stats"].get("partitions_rewritten", 0) for o in traced_ops) / n, "count")
    m["plans.files_written"] = (sum(o["stats"].get("files_written", 0) for o in traced_ops) / n, "count")
    m["plans.write_bytes"] = (sum(p["cpu"]["write_bytes"] for p in traced_passes) / n, "bytes")

    progress = [pr for o in traced_ops for pr in o["stats"].get("progress", [])]

    def dur(key: str) -> float:
        return sum(pr.get("durationMs", {}).get(key, 0) for pr in progress) / 1e3 / n

    last_state = []
    for o in reversed(traced_ops):
        prs = [pr for pr in o["stats"].get("progress", []) if pr.get("stateOperators")]
        if prs:
            last_state = prs[-1]["stateOperators"]
            break
    m["streaming.trigger_s"] = (inclusive("streaming.trigger"), "s")
    m["streaming.add_batch_s"] = (dur("addBatch"), "s")
    m["streaming.query_planning_s"] = (dur("queryPlanning"), "s")
    m["streaming.state_rows"] = (sum(s.get("numRowsTotal", 0) for s in last_state), "count")
    m["streaming.state_bytes"] = (sum(s.get("memoryUsedBytes", 0) for s in last_state), "bytes")
    m["streaming.state_commit_s"] = (
        sum(s.get("commitTimeMs", 0) for pr in progress for s in pr.get("stateOperators", [])) / 1e3 / n, "s")

    m["host.steal_jiffies"] = (host["steal_jiffies"], "count")
    m["host.iowait_jiffies"] = (host["iowait_jiffies"], "count")
    m["host.load_1m_max"] = (host["load_1m_max"], "load")

    untraced = [p["s"] for p in passes if not p["traced"]]
    traced = [p["s"] for p in traced_passes]
    overhead = statistics.median(traced) - statistics.median(untraced) if untraced and traced else 0.0
    m["trace.overhead_s"] = (overhead, "s")
    m["failed_ratio"] = (failed_ratio, "ratio")
    m["stored_bytes_per_input_byte"] = (stored_ratio, "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
