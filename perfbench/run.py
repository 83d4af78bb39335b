"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 10 --trace 0

Run from the repository root (the library is imported from the directory
above this one). Inputs are generated from ``--seed`` under
``.perfbench_work/`` and removed at exit; a full record of the run goes to
``.perfbench_results/``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the run's detail report (host record,
per-workload figures, problems found).

A run is: generate inputs; set up once, as a fresh process pays it (start
the JVM and the session, run one warm-up job, and for a store workload
build the stores and load them); then passes of the workload until
``--seconds`` have gone by, counted from the start of the first pass, and
at least the workload's ``min_passes`` have run; then the output checks,
the host calibration job, and shutdown. ``first_pass_s`` is the first
pass; ``pass_s`` is the workload's steady figure over the later ones.
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
MAX_PASSES = 200

FNS = (
    "text.bm25_index_append", "text.bm25_index_delete",
    "text.bm25_index_vacuum", "text.load_bm25_index_incremental",
    "text.bm25_batch_topk_indexed", "text.chunk_documents-hash_embed",
    "pq.load_ivf_pq_table", "pq.ivf_pq_batch_topk",
    "similarity.ivf_sq_table_append", "similarity.ivf_sq_table_delete",
    "similarity.ivf_sq_table_compact", "similarity.load_sq_table",
    "similarity.ivf_sq_batch_topk", "retrieval.check_hybrid_store_sync",
    "retrieval.load_hybrid_stores", "retrieval.hybrid_batch_topk",
    "retrieval.rrf_fuse",
)
SPARK_SUMS = ("tasks", "executor_run_s", "gc_s", "shuffle_bytes",
              "spill_bytes", "input_bytes")


def start_session(work: Path, traced: bool):
    from ons_utils_spark.session import get_session

    extra = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # No hsperfdata file in the system temp directory either.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "eventlog").mkdir(exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = f"file://{work / 'eventlog'}"
        extra["spark.eventLog.compress"] = "false"
        # Task-end events without their accumulator lists: the metrics the
        # traced run reads are kept, and the log costs less to write.
        extra["spark.eventLog.includeTaskMetricsAccumulators"] = "false"
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    return get_session(app_name="perfbench", master=f"local[{cpus}]",
                       extra_configs=extra)


def warm_up(spark) -> None:
    """One tiny job, so the session's first-job latency is set-up time. The
    Python worker pool is not started here: a fresh batch process pays that
    in its first pass, and so does ``first_pass_s``."""
    spark.range(1000).count()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=60)


def calibrate(spark) -> float:
    """``bench.py``'s fixed machine-calibration job, in seconds."""
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr("bit_xor(xxhash64(id)) s").collect()
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """``(all, steal)`` jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def host_record(spark, calibration_s: float, jiffies0: tuple) -> dict:
    import pyspark

    total, steal = (b - a for a, b in zip(jiffies0, cpu_jiffies()))
    return {
        # Share of CPU time the hypervisor gave to other guests during the
        # run: a noisy-neighbour signal beside the calibration job.
        "cpu_steal_share": round(steal / max(total, 1), 4),
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "driver_heap": spark.conf.get("spark.driver.memory", None),
        "calibration_s": round(calibration_s, 4),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
    }


def per_layer(tracer, wl, passes: list, session_s: float, log_dir: Path,
              first_pass_codegen_ms: float) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run → ``(contract, detail)``.

    ``contract`` holds the metrics ``BENCHMARK.json`` lists: job counts of
    the registry ops and store or serving functions (0 where the workload
    does not call them) and the metrics that apply to any workload.
    ``detail`` holds every metric computed, with the times of the ops and
    functions this workload did call. Spark sums are per pass; a
    function's job count and time are medians over its calls in set-up and
    in the measured window.
    """
    import workloads
    from tracing import event_log_task_metrics, walk_bytes

    done = [s for s in tracer.spans if "end" in s]
    win = [s for s in done if s["phase"] == "window"]
    per = max(len(passes), 1)
    contract = {"session.get_session_s": (session_s, "s")}
    detail = {}

    def dur(s):
        return s["end"] - s["start"]

    jobs = sorted({j for s in win for j in s.get("job_ids", [])})
    task = event_log_task_metrics(str(log_dir))
    contract["spark.jobs"] = (len(jobs) / per, "count")
    for key in SPARK_SUMS:
        unit = "s" if key.endswith("_s") else (
            "count" if key == "tasks" else "bytes")
        contract[f"spark.{key}"] = (
            sum(task.get(j, {}).get(key, 0) for j in jobs) / per, unit)
    compiles, codegen_ms = tracer.window_codegen
    contract["spark.codegen_compiles"] = (compiles / per, "count")
    contract["spark.codegen_ms"] = (codegen_ms / per, "ms")
    contract["spark.first_pass_codegen_ms"] = (first_pass_codegen_ms, "ms")

    for q in workloads.ETL_QUERIES + workloads.DEDUP_QUERIES:
        runs = sorted((s for s in win if s["name"] == q),
                      key=lambda s: s["op_id"])
        contract[f"{q}.jobs"] = (len(tracer.jobs(runs[-1])) if runs else 0,
                                 "count")
        if runs:
            steady = runs[1:] or runs
            detail[f"{q}.exec_s"] = (statistics.median(map(dur, steady)), "s")
            detail[f"{q}.codegen_ms"] = (runs[0]["codegen_ms"], "ms")

    for fn in FNS:
        calls = [s for s in done if s["name"] == fn and s["phase"] != "check"]
        contract[f"{fn}.jobs"] = (
            statistics.median(len(tracer.jobs(s)) for s in calls)
            if calls else 0, "count")
        if calls:
            detail[f"{fn}.s"] = (statistics.median(map(dur, calls)), "s")

    store = getattr(wl, "store_bytes", {})
    contract["sources.store.bytes_written"] = (
        store.get("written", 0) / per, "bytes")
    contract["sources.store.bytes_rewritten"] = (
        store.get("rewritten", 0) / per, "bytes")
    contract["sources.store.files_total"] = (
        len(walk_bytes(os.path.dirname(wl.bm25))) if store else 0, "count")

    # Every op span (a registry query, a served batch) is a plan span and
    # an action span; their sum over the op's wall time is the coverage.
    ops = [s for s in win if any(c["parent"] == s["id"] and c["name"] == "plan"
                                 for c in win)]
    cover = [sum(dur(c) for c in win if c["parent"] == s["id"]) / dur(s)
             for s in ops]
    contract["trace.span_coverage"] = (min(cover) if cover else 0.0, "ratio")
    contract["trace.bookkeeping_s"] = (tracer.bookkeeping_s / per, "s")
    contract["trace.pass_s"] = (wl.steady_s(), "s")
    detail.update(contract)
    gated = [m["name"] for m in json.loads(
        (ROOT / "BENCHMARK.json").read_text())["per_layer"]]
    return {name: detail[name] for name in gated}, detail


def run(args, work: Path) -> tuple[dict, dict]:
    import gen
    import tracing
    import workloads

    data_dir = str(work / "data")
    jiffies0 = cpu_jiffies()
    gen.generate(data_dir, args.seed, args.scale)
    wl = workloads.WORKLOADS[args.workload]()
    ctx = workloads.Ctx(None, data_dir, str(work), args.seed, tracing.OFF)
    traced = bool(args.trace)

    # Set-up time: JVM and session start, warm-up, store build and first
    # load, in this fresh process. Tracer construction is left out.
    t0 = time.perf_counter()
    spark = ctx.spark = start_session(work, traced)
    session_s = time.perf_counter() - t0
    if traced:
        ctx.tracer = tracing.Tracer(spark)
        ctx.tracer.patch_nested()
    t1 = time.perf_counter()
    warm_up(spark)
    wl.build(ctx)
    t2 = time.perf_counter()
    wl.open(ctx)
    t3 = time.perf_counter()
    setup_s = session_s + (t3 - t1)
    wl.prepare(ctx)

    tracer = ctx.tracer
    tracer.mark_window(True)
    passes: list[float] = []
    first_pass_codegen_ms = 0.0
    t_window = time.perf_counter()
    k = 0
    while k < MAX_PASSES:
        s = wl.run_pass(ctx, k)
        if s is not None:
            passes.append(s)
        if k == 0 and traced:
            first_pass_codegen_ms = tracer.codegen_since_window()[1]
        wl.after_pass(ctx, k)
        k += 1
        if k >= wl.min_passes and \
                time.perf_counter() - t_window >= args.seconds:
            break
    tracer.mark_window(False)

    t_check = time.perf_counter()
    wl.check(ctx)
    check_s = time.perf_counter() - t_check
    rss = tracing.peak_rss_mb()
    host = host_record(spark, calibrate(spark), jiffies0)
    if len(passes) < wl.min_passes:
        raise RuntimeError(f"only {len(passes)} passes completed: "
                           f"{ctx.problems}")
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (passes[0], "s"),
        "pass_s": (wl.steady_s(), "s"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "host": host, "passes": len(passes),
        "pass_times_s": [round(p, 4) for p in passes],
        "session_s": round(session_s, 4),
        "warm_up_and_build_s": round(t2 - t1, 4), "open_s": round(t3 - t2, 4),
        "check_s": round(check_s, 4),
        "fail_rate": len(ctx.problems) / max(ctx.attempted, 1),
        "peak_rss_mb": round(rss, 1),
        "report": wl.report(), "problems": ctx.problems,
    }
    stop_spark(spark)
    if traced:
        metrics, layers = per_layer(tracer, wl, passes, session_s,
                                    work / "eventlog", first_pass_codegen_ms)
        detail["per_layer"] = {n: {"value": round(float(v), 6), "unit": u}
                               for n, (v, u) in layers.items()}
        tracer.dump(str(ROOT / ".perfbench_results" /
                        f"{args.workload}-{args.scale}-seed{args.seed}-spans.json"))
    result = {
        "correct": not ctx.problems,
        "attempted": ctx.attempted, "failed": len(ctx.problems),
        "metrics": {name: {"value": float(v), "unit": u}
                    for name, (v, u) in metrics.items()},
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="bench", choices=("bench", "tiny"))
    args = ap.parse_args(argv)

    if not (ROOT / "ons_utils_spark" / "__init__.py").is_file():
        print(f"perfbench: no ons_utils_spark package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    (ROOT / ".perfbench_results").mkdir(exist_ok=True)
    # Spark's Python workers import the library too, and every temporary
    # file stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    try:
        detail, result = run(args, work)
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            from pyspark.sql import SparkSession

            stop_spark(SparkSession.getActiveSession())
        finally:
            shutil.rmtree(work, ignore_errors=True)
    name = f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}.json"
    with open(ROOT / ".perfbench_results" / name, "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
