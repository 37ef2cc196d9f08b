#!/usr/bin/env python3
"""One seeded benchmark for the linear-quadtree engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

Runs one workload (see README.md) on ``local[<cores>]`` from this single
driver process: a closed loop with one client and no extra threads. It
builds the workload's inputs from ``--seed``, sets up several times
(``setup_s`` is the session start plus the median set-up), warms up
outside the clock, then runs whole blocks of ops until ``--seconds`` of
op time are measured. Every op is materialized through the noop sink
under ``setJobGroup(op_id)``, its outputs are checked outside the clock,
and its internal caches are released afterwards.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with spans and Spark status-store reads, prints the per-layer
metrics, and writes every span and op record to
``.perfbench_work/traces/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

SETUP_REPS = 3
#: the whole command must end within 180 s; stop measuring by then
MEASURE_DEADLINE_S = 140.0

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "encode.python_run_ms": "ms",
    "encode.python_worker_start_ms": "ms",
    "encode.bytes_to_python": "B",
    "encode.bytes_from_python": "B",
    "build.jobs": "count",
    "build.stages": "count",
    "build.sample_ms": "ms",
    "build.encode_stage_run_ms": "ms",
    "build.encode_stage_cpu_ms": "ms",
    "build.shuffle_write_bytes": "B",
    "build.fetch_wait_ms": "ms",
    "build.sort_ms": "ms",
    "build.spill_bytes": "B",
    "build.gc_ms": "ms",
    "build.cpu_over_run": "ratio",
    "build.partition_skew": "ratio",
    "build.salt": "count",
    "cover.plan_ms": "ms",
    "cover.ranges": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scan.files_read": "count",
    "scan.files_total": "count",
    "scan.bytes_read": "B",
    "scan.rows_read_per_row_returned": "ratio",
    "maintain.bytes_written_per_input_byte": "ratio",
    "maintain.files_written": "count",
    "maintain.runs_merged": "count",
    "compact.bytes_rewritten": "B",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.peak_execution_memory_bytes": "B",
    "exec.cpu_over_wall": "ratio",
    "self.cover_ms": "ms",
    "self.build_ms": "ms",
    "self.maintain_ms": "ms",
    "self.catalyst_ms": "ms",
    "self.exec_ms": "ms",
    "self.cache_ms": "ms",
    "trace.overhead_frac": "ratio",
}

#: span layer -> self-time metric
SELF_LAYERS = {
    "plans.cover": "self.cover_ms",
    "operators.build": "self.build_ms",
    "operators.maintain": "self.maintain_ms",
    "catalyst": "self.catalyst_ms",
    "exec": "self.exec_ms",
    "cache": "self.cache_ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (tests use a tiny scale)")
    return p.parse_args(argv)


def engine_present() -> bool:
    return (ROOT / "linear_quadtree_spark" / "__init__.py").is_file()


def start_session(cores: int, work: Path):
    """Start Spark with every scratch path inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from linear_quadtree_spark.session import get_spark

    retain = "100000"  # keep every job, stage and SQL execution of the run
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.retainedJobs": retain,
            "spark.ui.retainedStages": retain,
            "spark.sql.ui.retainedExecutions": retain,
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_op(workload, op, ctx, reader, persisted_baseline) -> dict:
    from linear_quadtree_spark import cache

    sc = ctx.spark.sparkContext
    tracer = ctx.tracer
    rec = {"op_id": op.op_id, "kind": op.kind, "seconds": 0.0, "rows": 0,
           "noop": False, "ok": False, "error": None}
    sc.setJobGroup(op.op_id, op.kind)
    root = len(tracer.spans)
    try:
        with tracer.span(op.kind, "bench", op.op_id):
            out = workload.run(op)
        rec.update(seconds=out.seconds, rows=out.rows, noop=out.noop, extra=out.extra)
        # checks run under their own job group so they never count as op work
        sc.setJobGroup(op.op_id + "/check", "check")
        t0 = time.perf_counter()
        rec["error"] = out.check()
        rec["check_s"] = time.perf_counter() - t0
    except Exception:  # one failed op must not end the run: record it
        rec["error"] = traceback.format_exc(limit=8)
    finally:
        with tracer.span("release_caches", "cache", op.op_id):
            cache.release_caches()
    persisted = sc._jsc.sc().getPersistentRDDs().size()
    if rec["error"] is None and persisted != persisted_baseline:
        rec["error"] = f"{persisted} persisted RDDs after release, {persisted_baseline} after setup"
    rec["ok"] = rec["error"] is None
    if reader is not None:
        t0 = time.perf_counter()
        rec["jobs"] = reader.jobs(op.op_id)
        rec["sql"] = reader.sql_executions()
        rec["phases"] = tracer.phases.pop(op.op_id, {})
        _add_job_spans(tracer, root, rec["jobs"], op.op_id)
        rec["trace_read_s"] = time.perf_counter() - t0
    return rec


def _add_job_spans(tracer, first_span: int, jobs: list[dict], op_id: str) -> None:
    """Attach each Spark job to the innermost non-exec span of the op that
    was open when the job was submitted, so layer self time excludes it."""
    op_spans = [i for i in range(first_span, len(tracer.spans))
                if tracer.spans[i].layer not in ("exec", "cache")]
    for job in jobs:
        if job["start"] is None or job["end"] is None:
            continue
        holders = [i for i in op_spans
                   if tracer.spans[i].start <= job["start"] <= tracer.spans[i].end]
        if not holders:
            continue
        parent = max(holders, key=lambda i: tracer.spans[i].start)
        if tracer.spans[parent].layer == "bench":
            continue  # a job of the noop write itself, already under "exec"
        tracer.add(f"job {job['job_id']}", "exec", job["start"], job["end"], parent, op_id)


def _mean(values) -> float:
    values = list(values)
    return float(sum(values) / len(values)) if values else 0.0


def _stages(rec):
    return [s for j in rec.get("jobs", []) for s in j["stages"]]


def _nodes(rec, *names):
    return [n for e in rec.get("sql", []) for n in e["nodes"] if n["name"].startswith(names)]


def _node_sum(rec, metric, *names) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in _nodes(rec, *names))


def _stage_sum(rec, key) -> float:
    return sum(s[key] for s in _stages(rec))


def _sample_job_ms(rec) -> float:
    """Run time of the range-boundary sampling job: the shuffle-free job
    right before the job that writes the build's range shuffle."""
    jobs = rec.get("jobs", [])
    writes = [sum(s["shuffle_write_bytes"] for s in j["stages"]) for j in jobs]
    if not writes or max(writes) == 0:
        return 0.0
    m = writes.index(max(writes))
    if m == 0:
        return 0.0
    prev = jobs[m - 1]["stages"]
    if any(s["shuffle_read_bytes"] or s["shuffle_write_bytes"] for s in prev):
        return 0.0
    return sum(s["run_ms"] for s in prev)


def per_layer(records, workload, reader, tracer, session_s, rss_mb) -> tuple[dict, dict]:
    """Roll op records and spans up into the per-layer metrics. Returns
    (metrics, unavailable), where unavailable maps a metric to the reason
    it reads 0 on this workload."""
    from spans import self_times

    ok = [r for r in records if r["ok"]]
    builds = [r for r in ok if r["kind"] in workload.build_kinds]
    cover_ops = [r for r in ok if r["kind"] == "stored_bbox"]
    queries = [r for r in ok if r["noop"] and r["kind"] not in workload.build_kinds]
    appends = [r for r in ok if r["kind"] == "append"]
    compacts = [r for r in ok if r["kind"] == "compact"]
    m: dict[str, float] = {"session.start_s": session_s, "jvm.peak_rss_mb": rss_mb}
    unavailable: dict[str, str] = {}

    def result_rows(r):
        return max(r["extra"].get("result_rows", 0), 1)

    py = ("ArrowEvalPython", "BatchEvalPython")
    m["encode.python_run_ms"] = _mean(_node_sum(r, "time to run Python workers", *py) for r in builds)
    m["encode.python_worker_start_ms"] = _mean(_node_sum(r, "time to start Python workers", *py) for r in builds)
    m["encode.bytes_to_python"] = _mean(_node_sum(r, "data sent to Python workers", *py) for r in builds)
    m["encode.bytes_from_python"] = _mean(_node_sum(r, "data returned from Python workers", *py) for r in builds)

    m["build.jobs"] = _mean(len(r["jobs"]) for r in builds)
    m["build.stages"] = _mean(len(_stages(r)) for r in builds)
    m["build.sample_ms"] = _mean(_sample_job_ms(r) for r in builds)
    enc = [[s for s in _stages(r) if reader.stage_runs_encode(s["stage_id"])] for r in builds]
    m["build.encode_stage_run_ms"] = _mean(sum(s["run_ms"] for s in e) for e in enc)
    m["build.encode_stage_cpu_ms"] = _mean(sum(s["cpu_ms"] for s in e) for e in enc)
    m["build.shuffle_write_bytes"] = _mean(_stage_sum(r, "shuffle_write_bytes") for r in builds)
    m["build.fetch_wait_ms"] = _mean(_stage_sum(r, "fetch_wait_ms") for r in builds)
    m["build.sort_ms"] = _mean(_node_sum(r, "sort time", "Sort") for r in builds)
    m["build.spill_bytes"] = _mean(_stage_sum(r, "memory_spill_bytes") + _stage_sum(r, "disk_spill_bytes")
                                   for r in builds)
    m["build.gc_ms"] = _mean(_stage_sum(r, "gc_ms") for r in builds)
    run_ms = sum(_stage_sum(r, "run_ms") for r in builds)
    m["build.cpu_over_run"] = sum(_stage_sum(r, "cpu_ms") for r in builds) / run_ms if run_ms else 0.0
    skew = [r["extra"]["partition_skew"] for r in builds if "partition_skew" in r["extra"]]
    m["build.partition_skew"] = _mean(skew)
    salts = [r["extra"]["salt"] for r in builds if r["kind"] == "build_hot" and "salt" in r["extra"]]
    m["build.salt"] = _mean(salts)
    if builds and not skew:
        unavailable["build.partition_skew"] = "read only for in-memory builds; appends and compactions write straight to parquet"
    if builds and not salts:
        unavailable["build.salt"] = "no build on this workload asks for salt='auto'"

    spans = tracer.spans
    cover_spans = [s.end - s.start for s in spans if s.layer == "plans.cover"]
    m["cover.plan_ms"] = _mean(cover_spans) * 1e3
    m["cover.ranges"] = _mean(r["extra"]["ranges"] for r in cover_ops if "ranges" in r.get("extra", {}))
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = _mean(r["phases"].get(phase, 0.0) for r in queries)

    scans = ("Scan",)
    m["scan.files_read"] = _mean(_node_sum(r, "number of files read", *scans) for r in cover_ops)
    m["scan.files_total"] = _mean(r["extra"]["files_total"] for r in cover_ops if "files_total" in r["extra"])
    m["scan.bytes_read"] = _mean(_node_sum(r, "size of files read", *scans) for r in cover_ops)
    m["scan.rows_read_per_row_returned"] = _mean(
        _node_sum(r, "number of output rows", *scans) / result_rows(r) for r in cover_ops)

    m["maintain.bytes_written_per_input_byte"] = _mean(
        _stage_sum(r, "output_bytes") / r["extra"]["input_bytes"] for r in appends)
    m["maintain.files_written"] = _mean(r["extra"]["files_written"] for r in appends)
    m["maintain.runs_merged"] = _mean(r["extra"]["runs_merged"] for r in compacts)
    m["compact.bytes_rewritten"] = _mean(_stage_sum(r, "output_bytes") for r in compacts)

    m["exec.jobs"] = _mean(len(r["jobs"]) for r in ok)
    m["exec.stages"] = _mean(len(_stages(r)) for r in ok)
    for key in ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                "peak_execution_memory_bytes"):
        m[f"exec.{key}"] = _mean(_stage_sum(r, key) for r in ok)
    m["exec.spill_bytes"] = _mean(_stage_sum(r, "memory_spill_bytes") + _stage_sum(r, "disk_spill_bytes")
                                  for r in ok)
    wall_ms = sum(r["seconds"] for r in ok) * 1e3
    m["exec.cpu_over_wall"] = sum(_stage_sum(r, "cpu_ms") for r in ok) / wall_ms if wall_ms else 0.0

    selfs = self_times(spans)
    for layer, name in SELF_LAYERS.items():
        m[name] = selfs.get(layer, 0.0) * 1e3 / max(len(records), 1)
    catalyst_s = sum(s.end - s.start for s in spans if s.layer == "catalyst")
    read_s = sum(r.get("trace_read_s", 0.0) for r in records)
    op_s = sum(r["seconds"] for r in records)
    m["trace.overhead_frac"] = (catalyst_s + read_s) / op_s if op_s else 0.0

    # a metric whose ops never ran reads 0 for that reason, not as a measurement
    population = {"encode.": builds, "build.": builds, "cover.": cover_ops,
                  "catalyst.": queries, "scan.": cover_ops, "maintain.runs_merged": compacts,
                  "maintain.": appends, "compact.": compacts}
    for layer, name in SELF_LAYERS.items():
        population[name] = [s for s in spans if s.layer == layer]
    for name in PER_LAYER:
        group = next((v for k, v in population.items() if name.startswith(k)), ok)
        if not group and name not in unavailable:
            unavailable[name] = "not exercised by this workload"
    return m, unavailable


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: the engine package is not in {ROOT}; nothing to run", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import numpy as np

    import workloads as wl
    from spans import StatusReader, Tracer

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))

    t0 = time.perf_counter()
    with tracer.span("get_spark", "session"):
        spark = start_session(cores, work)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = wl.Ctx(spark=spark, work=work, scale=args.scale, cores=cores, tracer=tracer)
        workload = wl.WORKLOADS[args.workload](ctx)
        setups = []
        for _ in range(SETUP_REPS):
            # the same seed for every repetition: each one does the same work
            t0 = time.perf_counter()
            workload.setup(np.random.default_rng([args.seed, 0]))
            setups.append(time.perf_counter() - t0)
        persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()

        # warm up outside the clock, on whole blocks of a stream of its own
        warm_recs = []
        warm = workload.blocks(np.random.default_rng([args.seed, 1]))
        for _ in range(workload.warmup_blocks):
            for op in next(warm):
                op.op_id = "warmup-" + op.op_id
                warm_recs.append(run_op(workload, op, ctx, None, persisted))
        records: list[dict] = []
        reader = StatusReader(spark) if args.trace else None
        del tracer.spans[1:]  # keep get_spark; set-up and warm-up spans belong to no op

        timed = 0.0
        for block in workload.blocks(np.random.default_rng([args.seed, 2])):
            for op in block:
                rec = run_op(workload, op, ctx, reader, persisted)
                records.append(rec)
                print(f"op {op.op_id} {rec['seconds'] * 1e3:.1f} ms rows={rec['rows']} "
                      f"ok={rec['ok']} {op.params.get('rect', '')}", file=sys.stderr)
                timed += rec["seconds"]
            if timed >= args.seconds or time.perf_counter() - t_start > MEASURE_DEADLINE_S:
                break
        rss_mb = jvm_peak_rss_mb(spark)
        layers = unavailable = None
        if args.trace:
            layers, unavailable = per_layer(records, workload, reader, tracer, session_s, rss_mb)
    finally:
        stop_session(spark)

    all_recs = warm_recs + records
    failed = [r for r in all_recs if not r["ok"]]
    for r in failed:
        print(f"FAILED {r['op_id']}: {r['error']}", file=sys.stderr)
    ok_secs = [r["seconds"] for r in records if r["ok"]]
    detail = {
        "setup_s": (session_s + statistics.median(setups), "s"),
        **workload.detail(records),
        "ops_failed_frac": (len(failed) / len(all_recs), "frac"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    print(f"workload={args.workload} seed={args.seed} ops={len(records)} "
          f"warmup_ops={len(warm_recs)} timed_s={timed:.3f} "
          f"check_s={sum(r.get('check_s', 0.0) for r in all_recs):.3f} "
          f"setup_reps_s={[round(s, 3) for s in setups]} session_s={session_s:.3f} "
          f"wall_s={time.perf_counter() - t_start:.3f} cores={cores}")
    for name, (value, unit) in detail.items():
        print(f"  {name} = {value:.6g} {unit}")

    if args.trace:
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        path = trace_dir / f"{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "spans": tracer.as_dicts(),
            "ops": records, "per_layer": layers, "unavailable": unavailable,
        }, default=str))
        for name, why in sorted(unavailable.items()):
            print(f"  (reads 0) {name}: {why}", file=sys.stderr)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": detail["setup_s"][0],
            "ops_per_s": len(ok_secs) / sum(ok_secs) if ok_secs else 0.0,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": not failed, "attempted": len(all_recs),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
